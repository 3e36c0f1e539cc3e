package graft

import graft.queries.{Caches, Fixture, MatchQueries, MutationQueries, SyncPlan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The sync dataflow as one value: its stages on hand-made frames, and
  * the lifetime of the frames it caches for a fixture dir. */
class SyncPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestBase.{spark, sfDir}

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private val supplierSchema = StructType(Seq(
    StructField("article", LongType), StructField("supplier_price", DoubleType),
    StructField("name", StringType), StructField("color", StringType),
    StructField("proposed_vitya", LongType), StructField("anchor", LongType)))
  private val baseSchema = StructType(Seq(
    StructField("article", LongType), StructField("base_price", DoubleType),
    StructField("name", StringType), StructField("color", StringType),
    StructField("existing_vitya", LongType)))

  test("hand-made lists: one row per cascade stage, fuzzy matches and counters") {
    val supplier = frame(supplierSchema,
      Row(1L, 12.0, "Cable one", "black", 11L, 1L),                         // article
      Row(4L, 7.0, "Stand four", "red", 41L, 4L),                           // article, within tolerance
      Row(10L, 5.0, "Power bank black 5000mah (PB-77)", "black", 101L, 10L), // bracket
      Row(11L, 6.0, "XIAOMI charger white", "white", 111L, 11L),            // unified (brand)
      Row(12L, 8.0, "qqqqqqqq", "blue", 121L, 12L))                         // new
    val base = frame(baseSchema,
      Row(1L, 10.0, "Cable one", "black", null),
      Row(2L, 20.0, "Bank black 5000mah (PB-77)", "black", 20L),
      Row(3L, 30.0, "XIAOMI adapter red", "red", null),
      Row(4L, 7.0, "Stand four", "red", 40L))
    val p = new SyncPlan(supplier, base, identity)

    val stages = p.cascade.collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(stages === Map(
      1L -> ("article", Some(1L)), 4L -> ("article", Some(4L)),
      10L -> ("bracket", Some(2L)), 11L -> ("unified", Some(3L)), 12L -> ("new", None)))

    // every new item is probed; difflib ratios 0.8966 (10 → 2) and
    // 0.6316 (11 → 3) clear 0.33, 12 shares no character with any base name
    val fuzzy = p.fuzzy.collect()
      .map(r => r.getAs[Long]("article") -> Option(r.getAs[Any]("fuzzy_base_article"))).toMap
    assert(fuzzy === Map(10L -> Some(2L), 11L -> Some(3L), 12L -> None))

    val c = p.counters.collect().head
    assert((c.getAs[Long]("base_total"), c.getAs[Long]("updated"),
      c.getAs[Long]("skipped_tolerance"), c.getAs[Long]("not_found")) === ((4L, 1L, 1L, 2L)))
  }

  /** Rows as sorted strings, so frames with nulls compare as multisets. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("code window: the one ranked window gives the old two-stage cascade") {
    val supplier = frame(supplierSchema,
      Row(1L, 12.0, "Cable one", "black", 11L, 1L),                  // article
      Row(20L, 5.0, "Bank white (PB-77)", "white", 201L, 20L),       // bracket and unified candidates
      Row(21L, 6.0, "Cable red (PB-88)", "red", 211L, 21L),          // bracket, score tie
      Row(11L, 6.0, "XIAOMI charger white", "white", 111L, 11L),     // unified only
      Row(13L, 7.0, "ab", "blue", 131L, 13L),                        // null codes
      Row(null, 9.0, "zz", "blue", 91L, 0L))                         // null article
    val base = frame(baseSchema,
      Row(1L, 10.0, "Cable one", "black", null),
      Row(2L, 20.0, "Bank black 5000mah (PB-77)", "black", 20L),     // bracket PB-77, score 0
      Row(5L, 50.0, "Adapter PB-77", "white", null),                 // unified PB-77 only, score 2
      Row(9L, 90.0, "Other (PB-88)", "red", null),                   // tie at score 2 ...
      Row(6L, 60.0, "Thing (PB-88)", "red", null),                   // ... the smaller key wins
      Row(3L, 30.0, "XIAOMI adapter red", "red", null),              // unified XIAOMI
      Row(10L, 15.0, "cd", "blue", null),                            // null codes, not in the list
      Row(null, 15.0, "nn", "blue", null))                           // null article
    val p = new SyncPlan(supplier, base, identity)

    // the two stages as they ran before: best bracket variant, then the
    // best unified variant of what the bracket stage left
    def best(pairs: DataFrame, codeCol: String) = {
      val w = Window.partitionBy("article").orderBy(col("score").desc, col("base_article").asc)
      pairs.withColumn("score", SyncPlan.variantScore)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("article"), col(codeCol).as("code"), col("base_article"), col("score"))
    }
    val bracket = best(p.supCoded.join(p.baseCoded, col("code") === col("bcode")), "code")
    val rest = p.supCoded.join(bracket.select("article"), Seq("article"), "left_anti")
      .withColumn("ucode", graft.functions.Cleaning.unifiedCodeExpr(col("name")))
      .filter(col("ucode").isNotNull)
    val b = p.baseCoded.withColumn("bucode", graft.functions.Cleaning.unifiedCodeExpr(col("bname")))
      .filter(col("bucode").isNotNull)
    val unified = best(rest.join(b, col("ucode") === col("bucode")), "ucode")
    assert(rows(p.bracketBest) === rows(bracket))
    assert(rows(p.unifiedBest) === rows(unified))
    assert(p.bracketBest.columns === bracket.columns && p.unifiedBest.columns === unified.columns)

    val stages = p.cascade.collect()
      .map(r => Option(r.get(0)) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(stages === Map(
      Some(1L) -> ("article", Some(1L)), Some(20L) -> ("bracket", Some(2L)),
      Some(21L) -> ("bracket", Some(6L)), Some(11L) -> ("unified", Some(3L)),
      Some(13L) -> ("new", None), None -> ("new", None)))

    // the article join's new items and price updates equal the joins
    // they replaced, null articles and unlisted base rows included
    val oldNew = supplier.join(broadcast(base.select("article")), Seq("article"), "left_anti")
    assert(p.newItems.columns === oldNew.columns)
    assert(rows(p.newItems) === rows(oldNew))
    assert(rows(p.newItems).exists(_.startsWith("[null,9.0,zz")))
    val oldUpdates = base.join(supplier.select("article", "supplier_price"), Seq("article"), "left")
      .select(col("article"), col("base_price"), col("supplier_price"),
        (col("supplier_price").isNotNull &&
          abs(col("supplier_price") - col("base_price")) >= 0.001).as("updated"))
    assert(rows(p.priceUpdates) === rows(oldUpdates))
    assert(rows(p.priceUpdates).count(_.endsWith(",null,false]")) === 7)
  }

  test("one article join: s6, s7, a10 and s5 scan the cached byArticle and join nothing") {
    Caches.release(spark, sfDir, blocking = true)
    MatchQueries.queries("e2_cascade")(spark, sfDir).count()
    val p = Fixture.plan(spark, sfDir)
    val again = Fixture.plan(spark, sfDir)
    assert((again.supplier eq p.supplier) && (again.base eq p.base),
      "a second plan between releases should reuse the input frames")
    val byArticle = p.byArticle.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }
    assert(byArticle.isDefined, "e2 should have cached byArticle")
    for (q <- Seq("s6_price_rewrite", "s7_article_fill", "a10_update_counters", "s5_report_summary")) {
      val df = MutationQueries.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
      assert(scans.nonEmpty && scans.forall(_ eq byArticle.get), s"$q should scan byArticle only:\n$plan")
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"$q joins:\n$plan")
    }
    Caches.release(spark, sfDir, blocking = true)
    val fresh = Fixture.plan(spark, sfDir)
    assert(!(fresh.supplier eq p.supplier) && !(fresh.base eq p.base),
      "after release the inputs should be read again")
  }

  test("s5 summary: one conditional aggregate equals the four-aggregate formula") {
    val supplier = frame(supplierSchema,
      Row(1L, 10.4, "a", "black", 11L, 1L),   // +4%: a match, not a change
      Row(2L, 13.0, "b", "black", 21L, 2L),   // +30%: change and warning
      Row(3L, 11.0, "c", "black", 31L, 3L),   // +10%: change
      Row(4L, null, "d", "black", 41L, 4L),   // null supplier price
      Row(5L, 9.0, "e", "black", 51L, 5L),    // null base price
      Row(6L, 3.0, "f", "black", 61L, 6L),    // base price 0
      Row(7L, 4.0, "g", "black", 71L, 7L))    // absent from the base
    val base = frame(baseSchema,
      Row(1L, 10.0, "a", "black", null), Row(2L, 10.0, "b", "black", null),
      Row(3L, 10.0, "c", "black", null), Row(4L, 10.0, "d", "black", null),
      Row(5L, null, "e", "black", null), Row(6L, 0.0, "f", "black", null))

    // the formula s5 used before: four aggregates over filtered joins
    val joined = supplier.join(broadcast(base), Seq("article"), "left")
    val matches = joined.filter(col("base_price").isNotNull)
    def moved(pct: Int) = matches.filter(col("base_price") > 0 &&
      abs((col("supplier_price") - col("base_price")) / col("base_price") * 100) > pct)
    def n(df: DataFrame, sheet: String) =
      df.agg(count(lit(1)).as("n_rows")).withColumn("sheet", lit(sheet))
    val expected = n(matches, "matches")
      .unionByName(n(moved(5), "price_changes"))
      .unionByName(n(joined.filter(col("base_price").isNull), "new_items"))
      .unionByName(n(moved(20), "warnings"))
      .select("sheet", "n_rows").orderBy("sheet").collect().toSeq

    val got = new SyncPlan(supplier, base, identity).summary
    assert(got.columns.toSeq === Seq("sheet", "n_rows"))
    assert(got.collect().toSeq === expected)
    assert(expected.map(_.getLong(1)) === Seq(5L, 2L, 2L, 1L))

    // every count 0 still yields one row per sheet
    val empty = new SyncPlan(frame(supplierSchema), frame(baseSchema), identity).summary.collect()
    assert(empty.map(r => r.getString(0) -> r.getLong(1)).toSeq === Seq(
      "matches" -> 0L, "new_items" -> 0L, "price_changes" -> 0L, "warnings" -> 0L))
  }

  test("a second Fixture.plan over a dir reuses its caches: no new persisted RDD") {
    val sc = spark.sparkContext
    Fixture.plan(spark, sfDir).cascade.count()
    val before = sc.getPersistentRDDs.keySet
    val p = Fixture.plan(spark, sfDir)
    p.cascade.count()
    p.fuzzy.count()
    p.insertRows.count()
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("Caches.release unpersists the four cached frames; e2 rebuilds afterwards") {
    val sc = spark.sparkContext
    Caches.release(spark, sfDir, blocking = true)
    val before = sc.getPersistentRDDs.keySet
    MatchQueries.queries("e2_cascade")(spark, sfDir).count()
    MatchQueries.queries("e2_cascade")(spark, sfDir).count()
    // storageLevel resolves through the session's cache manager by
    // logical plan, so a freshly built plan's frames see the caches
    val p = Fixture.plan(spark, sfDir)
    val four = Seq(p.byArticle, p.supCoded, p.baseCoded, p.codeBest)
    assert(four.forall(_.storageLevel.useMemory), "e2 should have cached all four frames")
    val cached = sc.getPersistentRDDs.keySet -- before
    assert(cached.size === 4)

    val n = Caches.release(spark, sfDir, blocking = true)
    assert(n === 2 + 4, s"expected 2 memoized inputs and 4 cached intermediates, released $n")
    assert(four.forall(_.storageLevel == StorageLevel.NONE), "a cascade cache survived release")
    assert(sc.getPersistentRDDs.keySet.intersect(cached).isEmpty)
    assert(MatchQueries.queries("e2_cascade")(spark, sfDir).count() > 0)
  }
}
