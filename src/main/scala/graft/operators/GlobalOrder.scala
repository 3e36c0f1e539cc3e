package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global numbering: assigns a dense 1..N position by a sort
  * key WITHOUT an unpartitioned `row_number` window (which funnels every
  * row through a single task — the classic scale-killer for large
  * batches).
  *
  * Plan shape:
  *   1. range-repartition on the sort key (parallel sampling + shuffle),
  *   2. per-partition local `row_number` (window partitioned by the
  *      range shard id → every shard numbers in parallel),
  *   3. per-shard row counts → cumulative offsets via a triangular
  *      broadcast self-join over the counts (one row per shard, ≤
  *      spark.sql.shuffle.partitions rows — O(P²) pairs of trivial
  *      rows, and deliberately NOT a global window so no
  *      Exchange SinglePartition appears anywhere in the plan),
  *   4. broadcast the offsets back and add.
  *
  * Equivalent to `row_number() OVER (ORDER BY sortCols)` because range
  * partitioning guarantees shard i's keys all precede shard i+1's.
  * Ties in the sort key are broken nondeterministically (exactly like
  * the global window); pass a unique tiebreaker column for full
  * determinism.
  *
  * Correctness invariant: the `sorted` subtree is evaluated TWICE (the
  * local-rank branch and the counts branch), usually as two physically
  * distinct exchanges because column pruning differentiates them — so
  * the pattern relies on Spark SQL's range-boundary sampling being
  * deterministic across separate instantiations over the same input.
  * Pinned by PlanSpec's "two differently pruned evaluations of one
  * repartitionByRange assign identical shard ids" case: on 100k rows,
  * 0 mismatched shard ids and 0 reused exchanges.
  * Nondeterministic INPUT (e.g. an upstream `rand()`) would break
  * this, as it breaks any multi-consumer plan.
  */
object GlobalOrder {

  /** Scale-safe global EXCLUSIVE running total of `weight` in sortCols
    * order (the distributed prefix-sum): same four-step shape as
    * [[withPosition]] — range shards scan locally in parallel, shard
    * TOTALS (≤ P rows) cross the triangular broadcast join, and no
    * Exchange SinglePartition appears anywhere. Equivalent to
    * `sum(weight) OVER (ORDER BY sortCols ROWS UNBOUNDED PRECEDING TO
    * 1 PRECEDING)` with nulls as 0. */
  def withRunningTotal(df: DataFrame, outCol: String, weight: Column,
      sortCols: Column*): DataFrame = {
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .withColumn("_go_pid", spark_partition_id())
      .withColumn("_go_w", weight.cast("long"))
    val localW = Window.partitionBy(col("_go_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sorted.withColumn("_go_local",
      coalesce(sum(col("_go_w")).over(localW), lit(0L)))
    val counts = sorted.groupBy("_go_pid").agg(sum("_go_w").as("_go_cnt"))
    val countsB = counts.select(
      col("_go_pid").as("_go_pid_b"), col("_go_cnt").as("_go_cnt_b"))
    val offsets = counts
      .join(broadcast(countsB), col("_go_pid_b") < col("_go_pid"), "left")
      .groupBy("_go_pid")
      .agg(coalesce(sum("_go_cnt_b"), lit(0L)).as("_go_offset"))
    local.join(broadcast(offsets), Seq("_go_pid"))
      .withColumn(outCol, col("_go_local") + col("_go_offset"))
      .drop("_go_pid", "_go_w", "_go_local", "_go_offset", "_go_cnt")
  }

  /** Scale-safe PER-GROUP dense 1..Ng position in sort order — the
    * grouped [[withPosition]]: equivalent to `row_number() OVER
    * (PARTITION BY groupCols ORDER BY sortCols)` but without funneling
    * each group through a single task, so it survives the skewed-stratum
    * case where one group holds a large share of the corpus. Range
    * partitioning on (groupCols ++ sortCols) keeps each group's keys in
    * contiguous shard order; local windows partition by (shard, group);
    * per-(shard, group) counts cross a broadcast same-group triangular
    * join for the offsets. The counts side is O(P + distinct groups)
    * rows — use this for FEW, LARGE groups (strata, sources, splits);
    * for many small groups the plain partitioned window is already
    * parallel and cheaper. */
  def withPositionWithin(df: DataFrame, posCol: String, groupCols: Seq[String],
      sortCols: Column*): DataFrame = {
    val grp = groupCols.map(col)
    val sorted = df
      .repartitionByRange((grp ++ sortCols): _*)
      .withColumn("_go_pid", spark_partition_id())
    val localW = Window.partitionBy(col("_go_pid") +: grp: _*).orderBy(sortCols: _*)
    val local = sorted.withColumn("_go_local", row_number().over(localW))
    val counts = sorted.groupBy(col("_go_pid") +: grp: _*).agg(count(lit(1)).as("_go_cnt"))
    val countsB = counts.select(
      groupCols.map(g => col(g).as(s"_go_g_$g")) :+
        col("_go_pid").as("_go_pid_b") :+ col("_go_cnt").as("_go_cnt_b"): _*)
    val sameGroup = groupCols.map(g => col(s"_go_g_$g") <=> col(g)).reduce(_ && _)
    val offsets = counts
      .join(broadcast(countsB), sameGroup && col("_go_pid_b") < col("_go_pid"), "left")
      .groupBy(col("_go_pid") +: grp: _*)
      .agg(coalesce(sum("_go_cnt_b"), lit(0L)).as("_go_offset"))
    // null-safe attach: a USING join on groupCols silently DROPS null
    // groups (null == null is false) — the offsets side must re-join
    // through <=> like the triangular join above it
    val offsetsB = offsets.select(
      groupCols.map(g => col(g).as(s"_go_o_$g")) :+
        col("_go_pid").as("_go_pid_o") :+ col("_go_offset"): _*)
    val attach = groupCols.map(g => col(s"_go_o_$g") <=> col(g))
      .reduce(_ && _) && col("_go_pid_o") === col("_go_pid")
    local.join(broadcast(offsetsB), attach)
      // LONG position: an int cast silently wraps past 2^31 rows —
      // this operator exists precisely for batches too big to window
      .withColumn(posCol, (col("_go_local").cast("long") + col("_go_offset")))
      .drop(Seq("_go_pid", "_go_pid_o", "_go_local", "_go_offset", "_go_cnt") ++
        groupCols.map(g => s"_go_o_$g"): _*)
  }

  /** Scale-safe PER-GROUP exclusive running total — [[withRunningTotal]]
    * grouped the way [[withPositionWithin]] grouped [[withPosition]]:
    * equivalent to `sum(weight) OVER (PARTITION BY groupCols ORDER BY
    * sortCols ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)` (nulls as 0)
    * without funneling any group through a single task. Same audience
    * note as withPositionWithin: FEW, LARGE groups (sources, strata) —
    * the offsets side is O(P · distinct groups). */
  def withRunningTotalWithin(df: DataFrame, outCol: String, groupCols: Seq[String],
      weight: Column, sortCols: Column*): DataFrame = {
    val grp = groupCols.map(col)
    val sorted = df
      .repartitionByRange((grp ++ sortCols): _*)
      .withColumn("_go_pid", spark_partition_id())
      .withColumn("_go_w", weight.cast("long"))
    val localW = Window.partitionBy(col("_go_pid") +: grp: _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sorted.withColumn("_go_local",
      coalesce(sum(col("_go_w")).over(localW), lit(0L)))
    val counts = sorted.groupBy(col("_go_pid") +: grp: _*).agg(sum("_go_w").as("_go_cnt"))
    val countsB = counts.select(
      groupCols.map(g => col(g).as(s"_go_g_$g")) :+
        col("_go_pid").as("_go_pid_b") :+ col("_go_cnt").as("_go_cnt_b"): _*)
    val sameGroup = groupCols.map(g => col(s"_go_g_$g") <=> col(g)).reduce(_ && _)
    val offsets = counts
      .join(broadcast(countsB), sameGroup && col("_go_pid_b") < col("_go_pid"), "left")
      .groupBy(col("_go_pid") +: grp: _*)
      .agg(coalesce(sum("_go_cnt_b"), lit(0L)).as("_go_offset"))
    // null-safe attach — see withPositionWithin: USING drops null groups
    val offsetsB = offsets.select(
      groupCols.map(g => col(g).as(s"_go_o_$g")) :+
        col("_go_pid").as("_go_pid_o") :+ col("_go_offset"): _*)
    val attach = groupCols.map(g => col(s"_go_o_$g") <=> col(g))
      .reduce(_ && _) && col("_go_pid_o") === col("_go_pid")
    local.join(broadcast(offsetsB), attach)
      .withColumn(outCol, col("_go_local") + col("_go_offset"))
      .drop(Seq("_go_pid", "_go_pid_o", "_go_w", "_go_local", "_go_offset",
        "_go_cnt") ++ groupCols.map(g => s"_go_o_$g"): _*)
  }

  def withPosition(df: DataFrame, posCol: String, sortCols: Column*): DataFrame = {
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .withColumn("_go_pid", spark_partition_id())
    val localW = Window.partitionBy(col("_go_pid")).orderBy(sortCols: _*)
    val local = sorted.withColumn("_go_local", row_number().over(localW))
    val counts = sorted.groupBy("_go_pid").agg(count(lit(1)).as("_go_cnt"))
    val countsB = counts.select(
      col("_go_pid").as("_go_pid_b"), col("_go_cnt").as("_go_cnt_b"))
    val offsets = counts
      .join(broadcast(countsB), col("_go_pid_b") < col("_go_pid"), "left")
      .groupBy("_go_pid")
      .agg(coalesce(sum("_go_cnt_b"), lit(0L)).as("_go_offset"))
    local.join(broadcast(offsets), Seq("_go_pid"))
      // LONG position — see withPositionWithin
      .withColumn(posCol, (col("_go_local").cast("long") + col("_go_offset")))
      .drop("_go_pid", "_go_local", "_go_offset", "_go_cnt")
  }
}
