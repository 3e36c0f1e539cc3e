package graft.tools

import org.apache.spark.sql.functions._

/** One-off measurements backing two round-7 plan claims (BASELINE.md):
  *
  * 1. e13's bucketized range join vs the naive predicate-only
  *    formulation (which plans a BroadcastNestedLoopJoin) — same
  *    result, different join shape, measured at sf0.1.
  * 2. withPositionWithin under an 80%-skewed stratum vs the
  *    `row_number() OVER (PARTITION BY grp ...)` window that funnels
  *    the big stratum through one task, at 8M/16M/32M rows.
  */
object ScalingJoins {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.build()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // ---- 1. range join: bucketized vs naive ----
    val w = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("win_id"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("sd"))
    val p = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("pd"))
    def agg(j: org.apache.spark.sql.DataFrame) =
      j.groupBy("win_id").agg(count(lit(1)).as("n")).agg(sum("n")).collect()
    val naive = () => {
      val j = w.join(p, col("pd") >= col("sd") && col("pd") < col("sd") + 7)
      agg(j)
    }
    val bucketized = () => {
      val wb = w.select(col("win_id"), col("sd"),
        explode(array_distinct(array(expr("sd div 7"), expr("(sd + 6) div 7")))).as("bk"))
      val pb = p.withColumn("bk", expr("pd div 7"))
      agg(wb.join(pb, Seq("bk")).filter(col("pd") >= col("sd") && col("pd") < col("sd") + 7))
    }
    naive(); bucketized() // warm up
    println(f"range_join_naive_sec=${Seq.fill(3)(time(naive())).min}%.2f")
    println(f"range_join_bucketized_sec=${Seq.fill(3)(time(bucketized())).min}%.2f")

    // ---- 2. grouped rank under skew ----
    def docs(n: Long) = spark.range(n).select(
      when(col("id") % 5 === 0, concat(lit("s"), col("id") % 5))
        .otherwise(lit("big")).as("grp"),
      ((col("id") * 131) % 100003).as("k"), col("id"))
    println("rows,grouped_rank_sec,partitioned_window_sec")
    Seq(8000000L, 16000000L, 32000000L).foreach { n =>
      val sharded = Seq.fill(2)(time {
        graft.operators.GlobalOrder
          .withPositionWithin(docs(n), "pos", Seq("grp"), col("k"), col("id"))
          .agg(max("pos"), sum("pos")).collect()
      }).min
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(col("k"), col("id"))
      val window = Seq.fill(2)(time {
        docs(n).withColumn("pos", row_number().over(win))
          .agg(max("pos"), sum("pos")).collect()
      }).min
      println(s"$n,$sharded,$window")
    }
    spark.stop()
  }
}
