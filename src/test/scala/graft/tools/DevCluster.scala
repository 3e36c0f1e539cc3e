package graft.tools

import org.apache.spark.sql.functions._

/** Dev harness: instrument the BSP label loop round-by-round. */
object DevCluster {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.build()
    val pairs = graft.SparkEntry.queries("d14_semantic_edges_ivf")(spark, dir)
      .select(col("id1").as("doc1"), col("id2").as("doc2")).cache()
    println(s"pairs: ${pairs.count()}")

    for (halving <- Seq(false, true)) {
      val t0 = System.nanoTime()
      val edges = pairs.unionByName(
        pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2"))).cache()
      var labels = edges.select(col("doc1").as("doc_id")).distinct()
        .withColumn("lab", col("doc_id")).repartition(4).cache()
      var prevCache = labels
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        rounds += 1
        val rt = System.nanoTime()
        val nmin = edges.join(labels, edges("doc2") === labels("doc_id"))
          .groupBy(edges("doc1").as("nid")).agg(min("lab").as("nmin"))
        val stepped = labels.join(nmin, labels("doc_id") === nmin("nid"), "left")
          .select(labels("doc_id"),
            least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab"),
            (col("nmin") < col("lab")).as("moved1"))
          .cache()
        val next = if (!halving) {
          stepped.select(col("doc_id"), col("lab"), col("moved1").as("moved")).cache()
        } else {
          val hop = stepped.select(col("doc_id").as("ref"), col("lab").as("reflab"))
          stepped.join(hop, stepped("lab") === hop("ref"), "left")
            .select(stepped("doc_id"),
              least(stepped("lab"), coalesce(col("reflab"), stepped("lab"))).as("lab"),
              (stepped("moved1") ||
                coalesce(col("reflab"), stepped("lab")) < stepped("lab")).as("moved"))
            .cache()
        }
        changed = next.filter(col("moved")).count()
        stepped.unpersist()
        prevCache.unpersist()
        prevCache = next
        labels = next.drop("moved")
        println(f"  halving=$halving round $rounds changed=$changed ${(System.nanoTime() - rt) / 1e9}%.2f s")
        if (rounds == 3) {
          val plan = next.queryExecution.executedPlan.toString
          val scans = plan.linesIterator.count(_.contains("InMemoryTableScan"))
          val parquet = plan.linesIterator.count(_.contains("FileScan"))
          val udfs = plan.linesIterator.count(_.contains("probeU") )
          println(s"  round-3 plan: ${plan.linesIterator.size} lines, " +
            s"$scans InMemoryTableScans, $parquet FileScans")
        }
      }
      prevCache.unpersist()
      edges.unpersist()
      println(f"halving=$halving rounds=$rounds total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
