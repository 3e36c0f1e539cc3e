package graft.tools

import org.apache.spark.sql.functions._

/** One-off super-linear-growth measurement for the dedup suite's
  * scaling claim (BASELINE.md records the result): replicate the sf0.1
  * documents corpus k× with heavy per-copy perturbation (≈50% of words
  * rewritten, so copies are NOT near-dups of their originals at
  * J ≥ 0.5 and the dup density stays constant as the corpus grows),
  * then measure d3's candidate count and steady-state wall time at
  * k = 1, 2, 4, 8 and report the growth exponents
  * log(y_k / y_1) / log(k). A quadratic plan would show ≈ 2; the
  * prefix-filter design should stay well under 1.5. */
object ScalingCheck {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val spark = graft.GraftSession.build()

    val ks = Seq(1, 2, 4, 8)
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    ks.foreach { k =>
      val copies = (0 until k).map { c =>
        if (c == 0) src
        else src
          .withColumn("doc_id", col("doc_id") + lit(c.toLong * 10000000L))
          // deterministic ~50% word rewrite per copy: kills ~7/8 of the
          // 3-gram shingles, so cross-copy Jaccard lands far below 0.5
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), (w, i) -> " +
              s"IF(abs(hash(w, i, $c)) % 2 = 0, concat(w, 'q$c'), w)), ' ')"))
          .withColumn("n_chars", length(col("text")))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/documents.parquet")
    }

    println(f"${"k"}%3s ${"docs"}%9s ${"candidates"}%12s ${"pairs"}%8s ${"sec"}%8s")
    val results = ks.map { k =>
      val dir = s"$base/x$k"
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val cands = graft.queries.DedupQueries.d3Candidates(spark, dir).count()
      // steady state: one warmup, then min of 2 timed passes (Bench's
      // methodology) of the full d3 query
      def pass(): Double = {
        val t0 = System.nanoTime()
        graft.queries.DedupQueries.queries("d3_ngram_jaccard")(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      val sec = Seq(pass(), pass(), pass()).min
      // isolate the round-6 mid-size wobble: AQE on, coalescing off
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val secNoCoalesce = Seq(pass(), pass()).min
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val secNoAqe = Seq(pass(), pass()).min
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val pairs = graft.queries.DedupQueries.queries("d3_ngram_jaccard")(spark, dir).count()
      graft.queries.Caches.release(spark, dir)
      println(f"$k%3d $docs%9d $cands%12d $pairs%8d $sec%8.2f  (no-coalesce $secNoCoalesce%5.2f, no-AQE $secNoAqe%5.2f)")
      (k, docs, cands, sec)
    }
    val (_, _, c1, s1) = results.head
    results.tail.foreach { case (k, _, ck, sk) =>
      val ce = math.log(ck.toDouble / c1) / math.log(k.toDouble)
      val se = math.log(sk / s1) / math.log(k.toDouble)
      println(f"x$k%-3d candidate exponent $ce%5.2f, wall-time exponent $se%5.2f")
    }
    spark.stop()
  }
}
