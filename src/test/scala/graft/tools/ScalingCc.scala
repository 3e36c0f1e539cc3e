package graft.tools

import org.apache.spark.sql.functions._

/** Wall-time growth measurement for the incremental connected-
  * components pair (BASELINE.md records the result): d28 (inline
  * old-side fixpoint + subgraph relabel — the gate shape) vs d29
  * (labels read from the LANDED store, ONE subgraph fixpoint, merge
  * written back — the production shape). Growth model: the sf
  * documents table replicated k× with shifted doc_ids and per-copy
  * word salting (`' ' → ' c<k> '` inserts a copy tag between words,
  * so every shingle carries it and COPIES share nothing — without the
  * salt, identical cross-copy text would add k-cliques of exact-dup
  * edges and the TRUE answer itself would grow quadratically). The
  * within-copy dup structure is preserved, so edges, delta edges, and
  * affected components all scale ~linearly; the d29 steady serve is
  * expected to grow slower than d28 (it skips the old-side fixpoint,
  * whose round count grows with the largest component's diameter).
  * Super-linear wall means a funnel or an uncapped join snuck in. */
object ScalingCc {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale_cc").toString
    val spark = graft.GraftSession.build()

    val ks = Seq(1, 2, 4, 8)
    val d = spark.read.parquet(s"$srcDir/documents.parquet")
    ks.foreach { k =>
      (0 until k).map { c =>
        d.withColumn("doc_id", col("doc_id") + lit(c * 10000000L))
          .withColumn("text", regexp_replace(col("text"), " ", s" c$c "))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/documents.parquet")
    }

    def measure(name: String, dir: String): Double = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        graft.queries.DedupQueries.queries(name)(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      pass() // warmup: builds the edge memo and (d29) the landing
      Seq(pass(), pass()).min
    }

    println(f"${"k"}%3s ${"docs"}%7s ${"edges"}%7s ${"delta"}%7s " +
      f"${"d28 steady"}%11s ${"d29 steady"}%11s")
    ks.foreach { k =>
      val dir = s"$base/x$k"
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val t28 = measure("d28_incremental_cc", dir)
      val t29 = measure("d29_landed_labels", dir)
      val edges = graft.queries.DedupQueries.queries("d2_minhash_lsh")(spark, dir).count()
      val delta = graft.queries.DedupQueries.queries("d2_minhash_lsh")(spark, dir)
        .filter(graft.queries.DedupQueries.d28IsDelta).count()
      println(f"$k%3d $nDocs%7d $edges%7d $delta%7d $t28%11.2f $t29%11.2f")
      graft.queries.Caches.release(spark, dir)
    }
    spark.stop()
  }
}
