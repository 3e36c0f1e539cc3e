package graft.tools

import org.apache.spark.sql.functions._

/** Wall-time growth measurement for the round-11 SCD2/as-of family
  * (BASELINE.md records the result): s22_scd2_merge (grouped window +
  * keyed merge joins) and e16_pit_join (AsOfJoin union-sort-carry over
  * lineitem⋈orders). Growth model: the sf0.1 orders/lineitem tables
  * replicated k× with shifted order keys AND shifted customer keys, so
  * the dimension's key space grows with the fact volume (the
  * production shape — a fixed key space would make the per-key version
  * chains grow instead, which is a different and easier regime for a
  * partitioned window). Both operators are one hash shuffle + one
  * local sort per side; the expected exponent is ~1 with fixed
  * overheads pushing it below 1 at these sizes. Super-linear means a
  * pair explosion or a single-partition funnel snuck in. */
object ScalingScd {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_scale_scd").toString
    val spark = graft.GraftSession.build()

    val ks = Seq(1, 2, 4, 8)
    val o = spark.read.parquet(s"$srcDir/orders.parquet")
    val l = spark.read.parquet(s"$srcDir/lineitem.parquet")
    ks.foreach { k =>
      (0 until k).map { c =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(c * 10000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(c * 1000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/orders.parquet")
      (0 until k).map { c =>
        l.withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/x$k/lineitem.parquet")
    }

    def measure(name: String, dir: String): Double = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        graft.queries.PipelineQueries.queries(name)(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      pass() // JIT/plan warmup pass
      Seq(pass(), pass()).min
    }

    println(f"${"k"}%3s ${"orders"}%9s ${"s22 steady"}%11s ${"e16 steady"}%11s")
    val results = ks.map { k =>
      val dir = s"$base/x$k"
      val n = spark.read.parquet(s"$dir/orders.parquet").count()
      val s22 = measure("s22_scd2_merge", dir)
      val e16 = measure("e16_pit_join", dir)
      graft.queries.Caches.release(spark, dir)
      println(f"$k%3d $n%9d $s22%11.2f $e16%11.2f")
      (k, s22, e16)
    }
    val (_, s22b, e16b) = results.head
    results.tail.foreach { case (k, s22, e16) =>
      def e(y: Double, y1: Double) = math.log(y / y1) / math.log(k.toDouble)
      println(f"x$k%-3d s22 exponent ${e(s22, s22b)}%5.2f, e16 exponent ${e(e16, e16b)}%5.2f")
    }
    spark.stop()
  }
}
