package graft

import graft.functions.{Cleaning, ProductCode, Similarity}
import graft.operators.FuzzyJoin
import graft.queries.{Fixture, MatchQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Matching-cascade invariants + fuzzy-join exactness on sf0.001. */
class MatchSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}
  private type Row4 = (Long, Option[Any], Option[Any], Option[Any])

  test("e2_cascade partitions the supplier pool: stages disjoint, union complete") {
    val cascade = MatchQueries.queries("e2_cascade")(spark, sfDir).cache()
    val supplierTotal = Fixture.supplierSide(spark, sfDir).count()
    assert(cascade.count() === supplierTotal)
    assert(cascade.select("article").distinct().count() === supplierTotal)
    val byStage = cascade.groupBy("found_by").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.values.sum === supplierTotal)
    assert(byStage("article") > 0)
    assert(byStage.getOrElse("new", 0L) > 0, "cascade must leave some new items")
    // every matched row carries a base article; new rows never do
    assert(cascade.filter(col("found_by") =!= "new" && col("base_article").isNull).count() === 0)
    assert(cascade.filter(col("found_by") === "new" && col("base_article").isNotNull).count() === 0)
    cascade.unpersist()
  }

  /** `FuzzyJoin.bestMatch` over (article, name) candidates and
    * (base_article, bname) base rows, as (article, key, name, sim). */
  private def fuzzyBest(cands: DataFrame, base: DataFrame, t: Double): Set[Row4] =
    FuzzyJoin.bestMatch(cands, col("article"), col("name"),
        base, col("base_article"), col("bname"), t, "m")
      .select("article", "m_key", "m_name", "m_sim")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toSet

  /** Oracle: plain crossJoin + full-precision referenceRatio, no
    * blocking, argmax by a window (highest sim, smallest key, then the
    * largest name); unmatched candidates keep nulls. */
  private def exactBest(cands: DataFrame, base: DataFrame, t: Double): Set[Row4] = {
    val simUdf = udf((a: String, b: String) => Similarity.referenceRatio(a, b))
    val w = Window.partitionBy("article")
      .orderBy(col("s").desc, col("base_article").asc, col("bname").desc)
    val exact = cands.crossJoin(base)
      .withColumn("s", simUdf(col("name"), col("bname")))
      .filter(col("s") >= t)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("article"), col("base_article"), col("bname"), round(col("s"), 4))
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    cands.select("article").collect().map(_.getLong(0)).toSet.map { (a: Long) =>
      exact.get(a) match {
        case Some((k, n, s)) => (a, k, n, s)
        case None => (a, None, None, None)
      }
    }
  }

  test("blocked fuzzy join ≡ exact cross join (lossless length-band + bound cascade)") {
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .withColumn("name", Fixture.supplierName(col("article")))
      .select("article", "name")
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
    assert(fuzzyBest(cands, base, 0.33) === exactBest(cands, base, 0.33))
  }

  test("hand-made frames: native node ≡ nested-loop fallback ≡ referenceRatio cross join") {
    import spark.implicits._
    val cands = Seq[(Long, String)](
      1L -> "abcd",         // 10 and 11 tie at 0.75: the smaller key wins
      2L -> "power bank z", // key 20 twice, tied: the larger name wins
      3L -> "qrst",         // 30 scores exactly the threshold: kept
      4L -> null,           // null candidate name: no match
      5L -> "zzzz",         // nothing clears the threshold: nulls
      6L -> ""              // empty against an empty base name: no match
    ).toDF("article", "name")
    val base = Seq[(Long, String)](
      11L -> "abce", 10L -> "abcf",
      20L -> "power bank x", 20L -> "power bank y",
      30L -> "qrxy",        // ratio("qrst", "qrxy") = 2·2/8 = 0.5
      40L -> null,          // null base name: never matches
      50L -> ""
    ).toDF("base_article", "bname")
    val t = 0.5
    val expected = exactBest(cands, base, t)
    assert(expected === Set[Row4](
      (1L, Some(10L), Some("abcf"), Some(0.75)),
      (2L, Some(20L), Some("power bank y"), Some(0.9167)),
      (3L, Some(30L), Some("qrxy"), Some(0.5)),
      (4L, None, None, None),
      (5L, None, None, None),
      (6L, None, None, None)))
    def planOf(c: DataFrame) = FuzzyJoin.bestMatch(c, col("article"), col("name"),
      base, col("base_article"), col("bname"), t, "m").queryExecution.executedPlan.toString
    // On one base partition every tie meets the node's own tie-break; at
    // the session's width the argmax also merges across partitions.
    for (width <- Seq("1", spark.conf.get("spark.sql.shuffle.partitions")))
      SimilarityJoinSpec.withConf(spark, "spark.sql.shuffle.partitions" -> width) {
        assert(planOf(cands).contains("PartialBestSimilarityJoin"), "native path not taken")
        assert(fuzzyBest(cands, base, t) === expected, s"native node, width $width")
        SimilarityJoinSpec.reference(spark) {
          assert(planOf(cands).contains("CartesianProduct"), "fallback path not taken")
          assert(fuzzyBest(cands, base, t) === expected, s"nested-loop fallback, width $width")
        }
      }
    // an empty pool: no rows on either path
    val empty = cands.filter(lit(false))
    assert(fuzzyBest(empty, base, t).isEmpty)
    SimilarityJoinSpec.reference(spark)(assert(fuzzyBest(empty, base, t).isEmpty))
  }

  test("quick-ratio bounds dominate the true ratio (safety of the early exit)") {
    val pairs = Seq(
      ("power bank black 12000mah", "small ring black 12000mah (PB-6)"),
      ("abcdef", "abcdef"), ("abc", "xyz"), ("", "x"),
      ("Power bank", "power BANK"))
    for ((a, b) <- pairs) {
      val al = a.toLowerCase; val bl = b.toLowerCase
      val r = Similarity.ratio(al, bl)
      assert(Similarity.quickRatio(al, bl) >= r - 1e-12)
      assert(Similarity.realQuickRatio(al, bl) >= Similarity.quickRatio(al, bl) - 1e-12)
      // thresholded scorer agrees with the full scorer above the threshold
      val fast = Similarity.referenceRatioAtLeast(a, b, 0.33)
      val full = Similarity.referenceRatio(a, b)
      if (full >= 0.33) assert(fast === full) else assert(fast < 0.33)
    }
  }

  test("nameCode expression ≡ ProductCode UDF (Latin AND Cyrillic inputs)") {
    val names = Seq(
      "Powerbank GREENOE Portable Power bank 60000mah 100w (C25)",
      "Cable AC-M25-SC black (x)", "XIAOMI charger 12 mah",
      "Adapter M2319E1 fast", "plain thing", "C60 hub", "12345 spec",
      "USB-C POWER PORTABLE CHARGER BANK", "item 900MA x", null,
      // Cyrillic: pattern 7 codes must actually match (ASCII \b never
      // borders a Cyrillic letter — the bug this list pins), and Latin
      // codes glued to Cyrillic words must NOT gain fake boundaries.
      "Повербанк С20 чёрный", "Зарядка д30 для Mi9",
      "КабельC60 обычный",       // Latin C60 glued to Cyrillic word: no boundary
      "Хаб (А123) с25 порты")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(names.zipWithIndex.map { case (n, i) => org.apache.spark.sql.Row(i, n) }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.StringType))))
    val got = df.select(col("id"), Cleaning.nameCode(col("n")).as("c"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    names.zipWithIndex.foreach { case (n, i) =>
      assert(got(i) === Option(ProductCode.findInName(n)), s"input: $n")
    }
  }

  test("j3/j4 respect cascade order: no article appears in both stages") {
    val j3 = MatchQueries.queries("j3_bracket_match")(spark, sfDir)
      .select("article").collect().map(_.getLong(0)).toSet
    val j4 = MatchQueries.queries("j4_unified_match")(spark, sfDir)
      .select("article").collect().map(_.getLong(0)).toSet
    assert(j3.intersect(j4).isEmpty)
  }
}
