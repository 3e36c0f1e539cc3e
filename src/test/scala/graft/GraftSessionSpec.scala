package graft

import graft.plans.PartialBestSimilarityJoin
import org.scalatest.funsuite.AnyFunSuite

/** The one engine session: tests run what Bench and Verify run, the
  * equivalence tests' reference really is the non-native plan, and
  * `spark.*` system properties override the factory's defaults. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  test("the test session resolves graft_similarity and plans the native similarity join") {
    val sim = spark.sql("SELECT graft_similarity('abcd', 'abcf') AS s").collect()(0).getDouble(0)
    assert(sim === 0.75)
    val plan = SimilarityJoinSpec.fixtureMatch(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("PartialBestSimilarityJoin") && !plan.contains("CartesianProduct"),
      s"FuzzyJoin's pool fits, so the session must plan PartialBestSimilarityJoinExec:\n$plan")
  }

  test("the similarity-join reference plan has no SimilarityJoin node") {
    val (optimized, executed, matched) = SimilarityJoinSpec.reference(spark) {
      val df = SimilarityJoinSpec.fixtureMatch(spark, sfDir)
      val qe = df.queryExecution
      (qe.optimizedPlan, qe.executedPlan.toString, df.filter("m_key IS NOT NULL").count())
    }
    assert(optimized.collectFirst { case j: PartialBestSimilarityJoin => j }.isEmpty,
      s"reference must not build PartialBestSimilarityJoin:\n$optimized")
    assert(!executed.contains("SimilarityJoin") && executed.contains("CartesianProduct"),
      s"reference must plan the plain pairwise join:\n$executed")
    assert(matched > 0, "reference returns no matches — equivalence tests would be vacuous")
    // the cap is scoped: the engine plan is native again afterwards
    assert(SimilarityJoinSpec.fixtureMatch(spark, sfDir)
      .queryExecution.executedPlan.toString.contains("PartialBestSimilarityJoin"))
  }

  test("a spark.* system property overrides the factory's default") {
    val key = "spark.sql.files.maxPartitionBytes"
    assert(GraftSession.conf(4).get(key) === "4m")
    val prev = Option(System.getProperty(key))
    System.setProperty(key, "8m")
    try {
      val c = GraftSession.conf(4)
      assert(c.get(key) === "8m")
      assert(c.get("spark.sql.shuffle.partitions") === "4", "other defaults still apply")
    } finally prev.fold(System.clearProperty(key))(System.setProperty(key, _))
  }
}
