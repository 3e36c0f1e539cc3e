package graft.tools

import org.apache.spark.sql.functions._

/** One-off growth measurement for the GlobalOrder prefix-sum family
  * (t21 sequence packing, t24 stratified ranks) vs the single-task
  * global-window formulation, at 1M→8M synthetic rows (BASELINE.md
  * records the result next to d3's and d14's exponents). The claim
  * under test: the sharded prefix sum scales near-linearly with
  * parallel slack while `sum() OVER (ORDER BY ...)` funnels every row
  * through one task — the plan PlanSpec pins out of t21/t24. */
object ScalingPrefix {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()

    def docs(n: Long) = spark.range(n).select(
      col("id").as("doc_id"),
      (col("id") * 131 % 997 + 5).as("n_tokens"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warm up codegen/JIT on a small run
    graft.operators.GlobalOrder
      .withRunningTotal(docs(10000), "off", col("n_tokens"), col("doc_id"))
      .agg(max("off")).collect()

    println("rows,sharded_sec,window_sec")
    Seq(4000000L, 8000000L, 16000000L, 32000000L, 64000000L).foreach { n =>
      // best-of-2 per size: the first pass of a new plan shape pays
      // codegen + JIT, which otherwise dominates the small sizes
      val sharded = Seq.fill(2)(time {
        graft.operators.GlobalOrder
          .withRunningTotal(docs(n), "off", col("n_tokens"), col("doc_id"))
          .agg(max("off"), sum("off")).collect()
      }).min
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val window = Seq.fill(2)(time {
        docs(n).withColumn("off", coalesce(sum("n_tokens").over(w), lit(0L)))
          .agg(max("off"), sum("off")).collect()
      }).min
      println(s"$n,$sharded,$window")
    }
    spark.stop()
  }
}
