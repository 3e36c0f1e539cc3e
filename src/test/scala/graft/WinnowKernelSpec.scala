package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r17 native winnow kernel ([[graft.functions.Hashing.winnowedEncoded]]
  * / [[graft.plans.GraftWinnowed]]) must select the EXACT set the
  * previous explode + per-doc window-min + distinct formulation
  * selected — t45/d33/d34/e27-e29 and the streaming admission twin all
  * ride it, so set equality here is the round's no-semantic-change
  * proof for the whole winnow family. */
class WinnowKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import graft.functions.Hashing

  private val K = 20
  private val W = 8
  private val ENC = 1L << 22

  /** Reference selection: distinct min of e(i) over every full window —
    * the window-function formulation, evaluated brute-force. */
  private def reference(s: String): Set[Long] = {
    val hs = Hashing.gramHashes(s, K)
    val n = hs.length
    if (n < W) return Set.empty
    val e = Array.tabulate(n)(i => hs(i) * ENC + (ENC - 1 - i))
    (0 to n - W).map(j => e.slice(j, j + W).min).toSet
  }

  test("kernel equals the brute-force window-min set on adversarial strings") {
    val rnd = new scala.util.Random(45017)
    val alphabets = Seq("ab", "abcde", "a", "abcdefghijklmnopqrstuvwxyz ")
    val cases = Seq.tabulate(400) { i =>
      val alpha = alphabets(i % alphabets.size)
      val len = rnd.nextInt(400)
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    } ++ Seq("", "x" * (K + W - 2), "x" * (K + W - 1), "x" * 1000,
      ("abc" * 500).take(997), "the quick brown fox " * 40)
    cases.foreach { s =>
      assert(Hashing.winnowedEncoded(s, K, W).toSet === reference(s),
        s"mismatch on len=${s.length} sample=${s.take(40)}")
      // the kernel's emit-on-change must also produce NO duplicates
      val got = Hashing.winnowedEncoded(s, K, W)
      assert(got.length === got.toSet.size, s"duplicate emits on len=${s.length}")
    }
  }

  test("expression output equals the previous DataFrame formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val docs = Seq.tabulate(60) { i =>
      val alpha = if (i % 3 == 0) "ab" else "abcdefgh "
      val len = K + W - 1 + rnd.nextInt(300)
      (i.toLong, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("doc_id", "text")
    // the OLD formulation, verbatim (what winnowedFingerprints used
    // through r16): explode every gram position, per-doc window min,
    // full-window filter, distinct
    val gr = docs.select(col("doc_id"),
      (length(col("text")) - (K - 1)).cast("long").as("n"),
      posexplode(graft.plans.GraftGramHashes.column(col("text"), K))
        .as(Seq("i0", "h")))
    val w = Window.partitionBy("doc_id").orderBy("i0").rowsBetween(0, W - 1)
    val old = gr
      .withColumn("e", min(col("h") * lit(ENC) + (lit(ENC - 1) - col("i0"))).over(w))
      .filter(col("i0") <= col("n") - W)
      .select(col("doc_id"), col("e")).distinct()
    val neu = docs.select(col("doc_id"),
      explode(graft.plans.GraftWinnowed.column(col("text"), K, W)).as("e"))
    assert(neu.orderBy("doc_id", "e").collect().toSeq ===
      old.orderBy("doc_id", "e").collect().toSeq)
  }

  test("t45 keeps the theoretical 2/(W+1) share of gram positions on the test corpus") {
    // Schleimer et al.: over distinct random hashes, the window after
    // each step selects a new fingerprint iff the minimum of the W+1
    // hashes the two windows span sits at either end, with probability
    // 2/(W+1); a document's first window always selects one. So a doc
    // of n ≥ W gram positions expects 1 + 2(n − W)/(W+1) fingerprints.
    // Each step's indicator depends on W+1 consecutive hashes, so the
    // corpus total has variance at most (2W+1)·E; the test allows four
    // such standard deviations around E.
    val docs = Tables.documents(spark, SparkTestBase.sfDir)
      .filter(col("text").isNotNull && length(col("text")) >= K + W - 1)
      .select(size(graft.plans.GraftGramHashes.column(col("text"), K)).cast("long").as("n"))
    val row = docs.agg(sum("n"), sum(lit(1.0) + lit(2.0) * (col("n") - W) / (W + 1))).head()
    val (positions, expected) = (row.getLong(0), row.getDouble(1))
    val fingerprints = SparkEntry.queries("t45_winnowing")(spark, SparkTestBase.sfDir).count()
    val tolerance = 4 * math.sqrt((2 * W + 1) * expected)
    assert(positions > 0 && math.abs(fingerprints - expected) <= tolerance,
      f"$fingerprints fingerprints over $positions gram positions " +
        f"(${fingerprints.toDouble / positions}%.3f; theory ${expected / positions}%.3f ± ${tolerance / positions}%.3f)")
  }
}
