package graft

import graft.operators.FuzzyJoin
import graft.queries.{Caches, Fixture, MatchQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SimilarityJoinSpec {
  /** Runs `body` with one session conf set, restoring it afterwards. */
  def withConf[T](spark: SparkSession, kv: (String, String))(body: => T): T = {
    val prev = spark.conf.get(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally spark.conf.set(kv._1, prev)
  }

  /** Runs `body` with broadcasting disabled: FuzzyJoin then plans its
    * banded cross join (a CartesianProduct once nothing broadcasts), the
    * reference the native node must match. The path is picked when
    * `bestMatch` is called, so call it in `body`. */
  def reference[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** FuzzyJoin's best match over a slice of the fixture pair. */
  def fixtureMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .select(col("article"), Fixture.supplierName(col("article")).as("cname"))
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
    FuzzyJoin.bestMatch(cands, col("article"), col("cname"),
        base, col("base_article"), col("bname"), 0.62, "m")
      .select("article", "m_key", "m_name", "m_sim")
  }
}

/** The fuzzy stage's native operator: FuzzyJoin builds
  * PartialBestSimilarityJoin when its candidate pool fits the broadcast
  * cap and the banded nested-loop join otherwise; both return the same
  * rows. The reference side of each equivalence test disables
  * broadcasting. */
class SimilarityJoinSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}
  import SimilarityJoinSpec.{fixtureMatch, reference, withConf}

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
  private def matched(rs: Set[Seq[Any]]): Int = rs.count(_(1) != null)
  private def pairwise(plan: String): Boolean =
    plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct")

  test("native similarity join returns exactly the expression-filtered cross join") {
    val expected = reference(spark)(rows(fixtureMatch(spark, sfDir)))
    assert(matched(expected) > 0, "threshold too high — test would be vacuous")
    assert(rows(fixtureMatch(spark, sfDir)) === expected)
  }

  test("build side over autoBroadcastJoinThreshold falls back to the banded cross join") {
    val native = rows(fixtureMatch(spark, sfDir))
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "1") { // nothing fits
      val df = fixtureMatch(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("PartialBestSimilarityJoin") && pairwise(plan),
        s"driver-collect build side must not plan over the broadcast cap:\n$plan")
      assert(rows(df) === native, "fallback plan changed results")
    }
  }

  test("argmax shape over a too-big build side falls back with identical rows") {
    // The argmax written out by hand: unbanded cross join, similarity
    // filter, max over (sim, negated key) per candidate. FuzzyJoin's
    // fallback over the cap (banded, then the same argmax) must keep
    // exactly its best pair for every candidate.
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .select(col("article"), lower(Fixture.supplierName(col("article"))).as("cname"))
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        lower(Fixture.baseName(col("article"), col("name"))).as("bname"))
    val expected = reference(spark) {
      cands.crossJoin(base).where(expr("graft_similarity(cname, bname) >= 0.62"))
        .groupBy("article").agg(max(struct(
          expr("graft_similarity(cname, bname)").as("s"),
          (-col("base_article")).as("nk"), col("base_article").as("k"))).as("_b"))
        .select(col("article"), col("_b.k"), round(col("_b.s"), 4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(expected.nonEmpty, "threshold too high — test would be vacuous")
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "1") { // nothing fits
      val df = fixtureMatch(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("PartialBestSimilarityJoin"),
        s"over-threshold build side must not collect on the driver:\n$plan")
      val got = df.where(col("m_key").isNotNull).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got === expected, "fallback rows diverged from the hand-written argmax")
    }
  }

  test("j2's gated fuzzy-probe shape plans the native exec under the engine rules") {
    val df = MatchQueries.queries("j2_fuzzy_probe")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartialBestSimilarityJoin"),
      s"j2's pool fits the broadcast cap, so FuzzyJoin must plan the native node:\n$plan")
    assert(!pairwise(plan), s"cross join planned next to the native node:\n$plan")
    assert(df.count() > 0)
  }

  test("after a release j2 still plans the native exec: its pool is built before the size test") {
    // A cache that is not built yet reports the estimate of the join it
    // caches, which can exceed the cap and silently pick the nested
    // loop (j5 cold at sf0.1 went from 2.9 to 12.5 s that way).
    Caches.release(spark, sfDir)
    val plan = MatchQueries.queries("j2_fuzzy_probe")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartialBestSimilarityJoin") && !pairwise(plan),
      s"a cold SyncPlan must size its built pool, not the cached join's estimate:\n$plan")
  }
}
