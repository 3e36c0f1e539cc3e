package graft

import graft.functions.Similarity
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
