package graft.tools

import org.apache.spark.sql.functions._

/** One-off diagnostic for ScalingScd's e16 k=8 step (2.3 s → 16.1 s at
  * 2× data): rebuilds the x8 replica and times e16 under the default
  * vs a raised broadcast threshold, printing the join strategy the
  * planner picked — distinguishing a plan-regime boundary (broadcast →
  * SMJ on the facts build) from genuine super-linear work. */
object ProbeE16 {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = java.nio.file.Files.createTempDirectory("graft_probe_e16").toString
    val spark = graft.GraftSession.build()
    val k = 8
    val o = spark.read.parquet(s"$srcDir/orders.parquet")
    val l = spark.read.parquet(s"$srcDir/lineitem.parquet")
    (0 until k).map { c =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(c * 10000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(c * 1000000L))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$base/x8/orders.parquet")
    (0 until k).map { c =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(c * 10000000L))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$base/x8/lineitem.parquet")

    def run(tag: String): Unit = {
      val df = graft.queries.PipelineQueries.queries("e16_pit_join")(spark, s"$base/x8")
      val t0 = System.nanoTime(); df.queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
        .findAllIn(plan.split("== Initial Plan ==").head).toSeq.groupBy(identity)
        .map { case (j, s) => s"$j x${s.size}" }.mkString(", ")
      println(f"$tag%-28s wall $wall%6.2f  joins: $joins")
    }
    run("warmup")
    run("default-threshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256L * 1024 * 1024).toString)
    run("256m-threshold")
    run("256m-threshold(2)")
    spark.stop()
  }
}
