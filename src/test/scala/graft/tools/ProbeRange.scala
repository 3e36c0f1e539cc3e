package graft.tools
import org.apache.spark.sql.functions._
object ProbeRange {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    val df = spark.range(1000000).select(
      ((col("id") * 2654435761L) % 1000003).as("k"), col("id"),
      (col("id") % 997).as("payload"))
    val sorted = df.repartitionByRange(col("k"), col("id")).withColumn("p", spark_partition_id())
    // a needs payload, b does not -> column pruning differentiates the
    // two exchanges (the t24 counts-vs-local shape)
    val a = sorted.select(col("k"), col("id"), col("payload"), col("p").as("pa"))
    val b = sorted.select(col("k"), col("id"), col("p").as("pb"))
    val j = a.join(b, Seq("k", "id"))
    val diff = j.filter(col("pa") =!= col("pb")).count()
    println(s"MISMATCHED_PIDS=$diff")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    println("REUSED=" + "ReusedExchange|ReusedQueryStage".r.findAllIn(plan).length)
    println("RANGE_EXCHANGES=" + "Exchange rangepartitioning".r.findAllIn(plan).length)
    spark.stop()
  }
}
