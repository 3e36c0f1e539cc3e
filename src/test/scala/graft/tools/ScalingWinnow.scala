package graft.tools

import org.apache.spark.sql.functions._

/** Wall-time growth measurement for the winnow family (t45 selection,
  * d33 pair detection, d34 landed admission) under ScalingSubstr's
  * growth model: the sf0.1 corpus replicated k× with ≈50% of word
  * TYPES rewritten per copy (keyed by (word, copy), not position), so
  * shared spans survive within a copy — constant dup density — while
  * cross-copy 20-char windows die on the first rewritten word.
  *
  * Also verifies the SIZE claim the family rests on: winnowed
  * fingerprints ≈ 2/(W+1) of gram positions (W = 8 → ~22%), measured
  * on the k=1 corpus against the d26-class full gram row count.
  *
  * Expected shapes: t45 linear (per-doc map + local sort), d33 ~linear
  * in verified pairs (constant density ⇒ pairs ∝ k), d34 steady
  * linear in the batch (10% carve). A super-linear exponent is a
  * scale bug. BASELINE.md records the results. */
object ScalingWinnow {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale_win").toString
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
        graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold1 = pass()
      val steady = Seq(pass(), pass()).min
      (cold1, steady)
    }

    // the size claim: fingerprint rows vs gram positions on k=1
    val d1 = s"$base/x1"
    val docs1 = spark.read.parquet(s"$d1/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) >= 27)
    val gramRows = docs1.select(
      posexplode(graft.plans.GraftGramHashes.column(col("text"), 20))).count()
    val fpRows = graft.SparkEntry.queries("t45_winnowing")(spark, d1).count()
    println(f"size claim (k=1): $fpRows fingerprints / $gramRows gram positions = " +
      f"${fpRows.toDouble / gramRows}%.3f (expected ~2/(W+1) = 0.222)")
    graft.queries.Caches.release(spark, d1)

    // JIT warmup on a scratch copy so k=1 cold1 measures real work
    spark.read.parquet(s"$base/x1/documents.parquet")
      .write.mode("overwrite").parquet(s"$base/warm/documents.parquet")
    Seq("t45_winnowing", "d33_winnow_pairs", "d34_winnow_admission")
      .foreach(measure(_, s"$base/warm"))
    graft.queries.Caches.release(spark, s"$base/warm")

    println(f"${"k"}%3s ${"docs"}%9s ${"t45 steady"}%11s ${"d33 steady"}%11s ${"d34 cold1"}%10s ${"d34 steady"}%11s")
    val results = ks.map { k =>
      val dir = s"$base/x$k"
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      val (_, s45) = measure("t45_winnowing", dir)
      val (_, s33) = measure("d33_winnow_pairs", dir)
      val (c34, s34) = measure("d34_winnow_admission", dir)
      graft.queries.Caches.release(spark, dir)
      println(f"$k%3d $docs%9d $s45%11.2f $s33%11.2f $c34%10.2f $s34%11.2f")
      (k, s45, s33, s34, c34)
    }
    val (_, s45b, s33b, s34b, c34b) = results.head
    results.tail.foreach { case (k, s45, s33, s34, c34) =>
      def e(y: Double, y1: Double) = math.log(y / y1) / math.log(k.toDouble)
      println(f"x$k%-3d t45 exponent ${e(s45, s45b)}%5.2f, d33 ${e(s33, s33b)}%5.2f, " +
        f"d34 steady ${e(s34, s34b)}%5.2f (cold1 ${e(c34, c34b)}%5.2f)")
    }
    spark.stop()
  }
}
