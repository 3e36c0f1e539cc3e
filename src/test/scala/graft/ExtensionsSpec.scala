package graft

import graft.functions.Similarity
import graft.plans.{GraftSimilarity, SimilarityBandRule}
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.dsl.plans._
import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression + SparkSessionExtensions layer. */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("graft_similarity evaluates through SQL with codegen, matching the JVM function") {
    import spark.implicits._
    val pairs = Seq(
      ("Power bank black", "power bank blue"),
      ("abc", "xyz"), ("", "x"), ("same", "same"))
    val df = pairs.toDF("a", "b")
    df.createOrReplaceTempView("simpairs")
    val got = spark.sql("SELECT a, b, graft_similarity(a, b) AS s FROM simpairs")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) === Similarity.referenceRatio(a, b), s"($a, $b)")
    }
    // null propagation (BinaryExpression null-safe path)
    val nulls = spark.sql("SELECT graft_similarity(NULL, 'x') AS s").collect()
    assert(nulls.head.isNullAt(0))
  }

  test("band rule conjoins the lossless length bound and stays idempotent") {
    val rel = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(Symbol("a").string, Symbol("b").string)
    val cond = GreaterThanOrEqual(
      GraftSimilarity(Symbol("a").string.at(0), Symbol("b").string.at(1)), Literal(0.33d))
    val plan = Filter(cond, rel)
    val once = SimilarityBandRule(plan)
    val twice = SimilarityBandRule(once)
    assert(once === twice, "rule must be a fixpoint after one application")
    once match {
      case Filter(And(_, GreaterThanOrEqual(GraftSimilarity(_, _, banded), _)), _) =>
        assert(banded, "similarity node must carry the banded marker")
      case other => fail(s"unexpected shape: $other")
    }
  }

  test("band rule rewrite preserves query results end-to-end") {
    import spark.implicits._
    val df = Seq(
      ("power bank black 12000mah", "power bank blue 12000mah"),
      ("tiny", "a very much longer string that the band prunes"),
      ("same text", "same text")).toDF("a", "b")
    df.createOrReplaceTempView("bandpairs")
    val unfiltered = spark.sql(
      "SELECT a FROM bandpairs WHERE graft_similarity(a, b) >= 0.6").collect().map(_.getString(0)).toSet
    // Manual band application mirrors the rule's arithmetic
    val manual = df.collect().filter { r =>
      Similarity.referenceRatio(r.getString(0), r.getString(1)) >= 0.6
    }.map(_.getString(0)).toSet
    assert(unfiltered === manual)
  }

  test("graft_dot and graft_l2sq evaluate through SQL, matching the JVM kernels") {
    val dot = spark.sql(
      "SELECT graft_dot(array(1.5d, 2.0d, -3.0d), array(2.0d, 0.5d, 1.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot === graft.functions.VectorOps.dot(
      Seq(1.5, 2.0, -3.0), Seq(2.0, 0.5, 1.0)))
    // min-length contract on ragged inputs, same as VectorOps.dot
    val ragged = spark.sql(
      "SELECT graft_dot(array(2.0d, 3.0d), array(10.0d)) AS d").collect()(0).getDouble(0)
    assert(ragged === 20.0)
    val l2 = spark.sql(
      "SELECT graft_l2sq(array(1L, 5L, -2L), array(4L, 1L, 0L)) AS d")
      .collect()(0).getLong(0)
    assert(l2 === (9L + 16L + 4L))
    assert(spark.sql("SELECT graft_dot(NULL, array(1.0d)) AS d").collect()(0).isNullAt(0))
  }
}
