package graft

import graft.plans.SimilarityJoin
import org.scalatest.funsuite.AnyFunSuite

/** The one engine session: tests run what Bench and Verify run, the
  * equivalence tests' reference really is the non-native plan, and
  * `spark.*` system properties override the factory's defaults. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  test("the test session resolves graft_similarity and plans the native similarity join") {
    val sim = spark.sql("SELECT graft_similarity('abcd', 'abcf') AS s").collect()(0).getDouble(0)
    assert(sim === 0.75)
    val plan = SimilarityJoinSpec.declarativeQuery(spark, sfDir).queryExecution.executedPlan
    assert(plan.toString.contains("SimilarityJoin") &&
      !plan.toString.contains("BroadcastNestedLoopJoin"),
      s"the declarative shape must plan SimilarityJoinExec:\n$plan")
  }

  test("the similarity-join reference plan has no SimilarityJoin node") {
    val (optimized, executed, rows) = SimilarityJoinSpec.reference(spark) {
      val qe = SimilarityJoinSpec.declarativeQuery(spark, sfDir).queryExecution
      (qe.optimizedPlan, qe.executedPlan.toString, qe.toRdd.count())
    }
    assert(optimized.collectFirst { case j: SimilarityJoin => j }.isEmpty,
      s"reference must not rewrite to SimilarityJoin:\n$optimized")
    assert(!executed.contains("SimilarityJoin") && executed.contains("NestedLoopJoin"),
      s"reference must plan the plain nested-loop join:\n$executed")
    assert(rows > 0, "reference returns no pairs — equivalence tests would be vacuous")
    // the exclusion is scoped: the engine plan is native again afterwards
    assert(SimilarityJoinSpec.declarativeQuery(spark, sfDir)
      .queryExecution.executedPlan.toString.contains("SimilarityJoin"))
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
