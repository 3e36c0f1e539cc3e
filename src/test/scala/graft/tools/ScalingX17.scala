package graft.tools

import org.apache.spark.sql.functions._

/** One-off super-linear-growth measurement for x17's df-capped sparse
  * candidate proposal (BASELINE.md records the result next to d3's and
  * d14's): replicate the sf0.1 corpus k× under the SAME growth model
  * as ScalingCheck — each copy rewrites ~50% of words deterministically
  * (so copies are fresh documents from the same distribution, not
  * near-dups) — and sign-flips the paired embeddings per copy
  * (Scaling14's trick: within-copy cosines stay bit-exact, cross-copy
  * structure cancels). Measures the candidate-pair count and the
  * steady-state wall time of the full x17 query at k = 1, 2, 4, 8.
  *
  * The claim under test: the relative df cap (stop-shingles are those
  * in more than max(8, N div 64) docs) bounds every postings bucket, so
  * candidates grow ~linearly in the corpus even though the query set
  * (doc_id % 50 == 0) also grows linearly — an uncapped postings join
  * would grow the hot-bucket contribution quadratically. */
object ScalingX17 {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale_x17").toString
    val spark = graft.GraftSession.build()

    val ks = Seq(1, 2, 4, 8)
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val embs = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select("vec_id", "embedding")
    ks.foreach { k =>
      val dCopies = (0 until k).map { c =>
        if (c == 0) docs
        else docs
          // +c·10M preserves doc_id % 50 — the query-set residue — so
          // queries grow with the corpus exactly as serving would
          .withColumn("doc_id", col("doc_id") + lit(c.toLong * 10000000L))
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), (w, i) -> " +
              s"IF(abs(hash(w, i, $c)) % 2 = 0, concat(w, 'q$c'), w)), ' ')"))
          .withColumn("n_chars", length(col("text")))
      }
      dCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/documents.parquet")
      val eCopies = (0 until k).map { c =>
        if (c == 0) embs
        else embs
          .withColumn("vec_id", col("vec_id") + lit(c.toLong * 10000000L))
          .withColumn("embedding", expr(
            s"transform(embedding, (x, i) -> IF(abs(hash(i, $c)) % 2 = 0, x, -x))"))
      }
      eCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/embeddings.parquet")
    }

    println(f"${"k"}%3s ${"idx docs"}%9s ${"cap"}%5s ${"candidates"}%12s ${"rows"}%6s ${"sec"}%7s")
    val results = ks.map { k =>
      val dir = s"$base/x$k"
      val n = graft.queries.AnnQueries.x17Universe(spark, dir).count()
      val cap = math.max(8L, n / 64L)
      val cands = graft.queries.AnnQueries.x17Candidates(spark, dir).count()
      def pass(): Double = {
        val t0 = System.nanoTime()
        graft.queries.AnnQueries.queries("x17_hybrid_rrf")(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      val sec = Seq(pass(), pass()).min
      val rows = graft.queries.AnnQueries.queries("x17_hybrid_rrf")(spark, dir).count()
      graft.queries.Caches.release(spark, dir)
      println(f"$k%3d $n%9d $cap%5d $cands%12d $rows%6d $sec%7.2f")
      (k, cands, sec)
    }
    val (_, c1, s1) = results.head
    results.tail.foreach { case (k, ck, sk) =>
      val ce = math.log(ck.toDouble / c1) / math.log(k.toDouble)
      val se = math.log(sk / s1) / math.log(k.toDouble)
      println(f"x$k%-3d candidate exponent $ce%5.2f, wall-time exponent $se%5.2f")
    }
    spark.stop()
  }
}
