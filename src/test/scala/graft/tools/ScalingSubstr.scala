package graft.tools

import org.apache.spark.sql.functions._

/** Wall-time growth measurement for the shared-substring family
  * (BASELINE.md records the result): the d23/d26 COUNT exponents are
  * already measured at 1.00/0.85 (sf0.01 → sf0.1 DuckDB replay); this
  * closes the remaining claim by measuring WALL seconds under the
  * ScalingCheck growth model, adapted to substrings — the sf0.1
  * corpus replicated k× with ≈50% of word TYPES rewritten per copy,
  * keyed by (word, copy) and NOT by position: the same word rewrites
  * identically everywhere within a copy, so a shared span stays
  * shared WITHIN its copy (constant dup density — the serve work per
  * batch doc is scale-invariant) while cross-copy 60-char runs die on
  * the first rewritten word (so density does not grow either).
  *
  * Per k it reports, for d26_substring_admission and d25_excise_spans:
  *   - cold1: the first pass on a fresh dir — d26 pays the gram-index
  *     landing write, d25 pays the d23 propose+verify front;
  *   - steady: min of two further passes — d26's serve against the
  *     landed index (the per-ingest-batch cost; the batch is 10% of
  *     the corpus, so linear-in-k is the expected shape), d25's
  *     interval/splice work over the memoized runs frame.
  * A super-linear exponent on either column is a scale bug. */
object ScalingSubstr {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale_sub").toString
    val spark = graft.GraftSession.build()

    val ks = Seq(1, 2, 4, 8)
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    ks.foreach { k =>
      val copies = (0 until k).map { c =>
        if (c == 0) src
        else src
          .withColumn("doc_id", col("doc_id") + lit(c.toLong * 10000000L))
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), (w, i) -> " +
              s"IF(abs(hash(w, $c)) % 2 = 0, concat(w, 'q$c'), w)), ' ')"))
          .withColumn("n_chars", length(col("text")))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/documents.parquet")
    }

    def measure(name: String, dir: String): (Double, Double) = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        graft.queries.DedupQueries.queries(name)(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold1 = pass()
      val steady = Seq(pass(), pass()).min
      (cold1, steady)
    }

    // JIT warmup on a scratch copy of x1 so k=1's cold1 measures the
    // landing write, not first-ever-codegen of the whole pipeline
    spark.read.parquet(s"$base/x1/documents.parquet")
      .write.mode("overwrite").parquet(s"$base/warm/documents.parquet")
    measure("d26_substring_admission", s"$base/warm")
    measure("d25_excise_spans", s"$base/warm")
    graft.queries.Caches.release(spark, s"$base/warm")

    println(f"${"k"}%3s ${"docs"}%9s ${"d26 cold1"}%10s ${"d26 steady"}%11s ${"d25 cold1"}%10s ${"d25 steady"}%11s")
    val results = ks.map { k =>
      val dir = s"$base/x$k"
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val (c26, s26) = measure("d26_substring_admission", dir)
      val (c25, s25) = measure("d25_excise_spans", dir)
      graft.queries.Caches.release(spark, dir)
      println(f"$k%3d $docs%9d $c26%10.2f $s26%11.2f $c25%10.2f $s25%11.2f")
      (k, s26, s25, c26, c25)
    }
    val (_, s26b, s25b, c26b, c25b) = results.head
    results.tail.foreach { case (k, s26, s25, c26, c25) =>
      def e(y: Double, y1: Double) = math.log(y / y1) / math.log(k.toDouble)
      println(f"x$k%-3d d26 steady-serve exponent ${e(s26, s26b)}%5.2f (cold1 ${e(c26, c26b)}%5.2f), " +
        f"d25 steady exponent ${e(s25, s25b)}%5.2f (cold1 ${e(c25, c25b)}%5.2f)")
    }
    spark.stop()
  }
}
