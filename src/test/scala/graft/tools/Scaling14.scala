package graft.tools

import org.apache.spark.sql.functions._

/** One-off super-linear-growth measurement for d14's IVF-candidate
  * edge generation (BASELINE.md records the result next to d3's):
  * replicate the sf0.1 embeddings k× with a per-copy deterministic
  * SIGN-FLIP pattern over the vector elements. Flipping both sides of
  * a within-copy pair leaves every product x·y — hence every cosine —
  * bit-exact, so the planted near-dup edges replicate linearly; across
  * copies the ~half-differing signs cancel ANY shared structure
  * (including a nonzero common mean, which a cyclic shift would leave
  * intact — the first cut of this tool used shifts and measured a
  * spurious 1.7 cross-copy edge exponent from exactly that leak).
  * K1 = N/50 FINE cells grow WITH the corpus — the design that keeps
  * expected candidates ≈ N·nprobe·(N/K1) ∝ N. A fixed-K design would
  * measure ≈ 2; this one should stay ~1.
  *
  * Also records the two-level quantizer's driver-held state: the
  * coarse level is K2 ≈ √(N/50) group centroids (the ONLY level the
  * driver collects — the fine level stays a distributed frame), so
  * its growth exponent should sit near 0.5 while candidates stay ~1 —
  * the round-9 fix for the flat design's linear driver collect. */
object Scaling14 {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale14").toString
    val spark = graft.GraftSession.build()

    val ks = Seq(1, 2, 4, 8)
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select("vec_id", "embedding")
    ks.foreach { k =>
      val copies = (0 until k).map { c =>
        if (c == 0) src
        else src
          // +c·10M keeps vec_id % 50 (the centroid-sample residue), so
          // K grows linearly with the corpus as the design intends
          .withColumn("vec_id", col("vec_id") + lit(c.toLong * 10000000L))
          .withColumn("embedding", expr(
            s"transform(embedding, (x, i) -> IF(abs(hash(i, $c)) % 2 = 0, x, -x))"))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/embeddings.parquet")
    }

    println(f"${"k"}%3s ${"vecs"}%8s ${"cells"}%6s ${"coarse"}%7s ${"candidates"}%12s ${"edges"}%8s ${"strong"}%7s ${"sec"}%7s")
    val results = ks.map { k =>
      val dir = s"$base/x$k"
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val cands = graft.queries.DedupQueries.d14Candidates(spark, dir).count()
      // driver-held quantizer state: the coarse array is ALL the driver
      // collects (K2 ≈ √(N/50) rows); the fine level never leaves the
      // cluster
      val coarseK = graft.queries.DedupQueries.coarseFor(spark, dir).length
      val t0 = System.nanoTime()
      val eDf = graft.queries.DedupQueries
        .queries("d14_semantic_edges_ivf")(spark, dir)
      val edges = eDf.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // planted near-dups vs borderline noise pairs: the edge count's
      // growth splits into a linear planted component and a ~quadratic
      // borderline-band component (a property of a growing RANDOM
      // corpus with a fixed threshold, not of the algorithm)
      val strong = eDf.filter(col("cosine") >= 0.55).count()
      val cells = vecs / 50
      graft.queries.Caches.release(spark, dir)
      println(f"$k%3d $vecs%8d $cells%6d $coarseK%7d $cands%12d $edges%8d $strong%7d $sec%7.2f")
      (k, coarseK, cands, edges, strong)
    }
    val (_, k2a, c1, e1, s1) = results.head
    results.tail.foreach { case (k, k2k, ck, ek, sk) =>
      val de = math.log(k2k.toDouble / k2a) / math.log(k.toDouble)
      val ce = math.log(ck.toDouble / c1) / math.log(k.toDouble)
      val ee = math.log(ek.toDouble / e1.toDouble.max(1.0)) / math.log(k.toDouble)
      val se = math.log(sk.toDouble / s1.toDouble.max(1.0)) / math.log(k.toDouble)
      println(f"x$k%-3d driver-state exponent $de%5.2f, candidate exponent $ce%5.2f, edge exponent $ee%5.2f, strong-edge exponent $se%5.2f")
    }
    spark.stop()
  }
}
