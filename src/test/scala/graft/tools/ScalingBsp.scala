package graft.tools

import org.apache.spark.sql.functions._

/** Skew measurement for the BSP min-label connected-components loop
  * (d9/d13's `minLabelClusters`, BASELINE.md records the result): a
  * STAR graph — one hub adjacent to every other vertex — is the
  * adversarial shape for label propagation, because after
  * symmetrization every round's edges⋈labels join has one key (the
  * hub) carrying half the edge mass, and the neighbor-min aggregate
  * funnels the same key. The aggregate side is safe by construction
  * (min partial-aggregates map-side, so the hub's reduce row sees one
  * partial per map task, not E rows); the join side is the real
  * exposure — this tool measures whether it stalls as the hub grows.
  * A chain component rides along so the measurement also covers the
  * path-halving O(log diameter) rounds, not just the 2-round star.
  */
object ScalingBsp {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    import spark.implicits._

    val chainLen = 4096L // fixed-diameter chain: exercises path halving
    println(f"${"edges"}%9s ${"clusters"}%9s ${"sec"}%7s")
    val results = Seq(1000000L, 2000000L, 4000000L, 8000000L).map { e =>
      val dir = s"bsp_star_$e"
      // hub 0 — {1..e}, plus a chain on ids (e+1 .. e+chainLen)
      val star = spark.range(1, e + 1)
        .select(lit(0L).as("doc1"), col("id").as("doc2"))
      val chain = spark.range(e + 1, e + chainLen)
        .select(col("id").as("doc1"), (col("id") + 1).as("doc2"))
      val t0 = System.nanoTime()
      val labels = graft.queries.DedupQueries
        .minLabelClusters(star.unionByName(chain), dir)
      val nClusters = labels.select("cluster_id").distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.queries.Caches.release(spark, dir)
      println(f"$e%9d $nClusters%9d $sec%7.2f")
      (e, sec)
    }
    val (_, s1) = results.head
    results.tail.foreach { case (e, se) =>
      val k = e / results.head._1
      val exp = math.log(se / s1) / math.log(k.toDouble)
      println(f"x$k%-3d wall exponent $exp%5.2f")
    }
    spark.stop()
  }
}
