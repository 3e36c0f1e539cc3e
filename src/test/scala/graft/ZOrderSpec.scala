package graft

import graft.queries.PipelineQueries
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measures the claim s19 exists for: a Z-order-sorted layout lets a
  * conjunctive box predicate over BOTH interleaved dimensions skip
  * row groups via parquet min/max stats, where a single-column sort
  * leaves the other dimension's stats full-range and skips nothing.
  * The measurement reads the scan operator's own numOutputRows metric
  * (rows surviving row-group pruning, BEFORE Spark's re-filter), so
  * the win is observed, not asserted. */
class ZOrderSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case f: FileSourceScanExec => f.metrics("numOutputRows").value
    case other => other.children.map(scanRows).sum
  }

  test("z-order layout prunes row groups on a 2-D box predicate; linear layout cannot") {
    val li = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        expr("l_partkey & 65535").as("x"), expr("l_suppkey & 65535").as("y"))
      .withColumn("z", PipelineQueries.zOrderKey("x", "y"))
    SparkTestBase.withTempDir("graft_zorder") { base =>
      // 16 files per layout; one row group each at this size, so row-group
      // pruning == file-level pruning here
      li.repartitionByRange(16, col("z")).sortWithinPartitions("z")
        .write.mode("overwrite").parquet(s"$base/zorder")
      li.repartitionByRange(16, col("l_orderkey")).sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(s"$base/linear")

      // box covering ~1/16 of each dimension's observed range
      val Array(r) = li.agg(max("x"), max("y")).collect()
      val (mx, my) = (r.getLong(0), r.getLong(1))
      def probe(dir: String): (Long, Long) = {
        val df = spark.read.parquet(s"$base/$dir")
          .filter(col("x").between(mx / 2, mx / 2 + math.max(1, mx / 16)) &&
            col("y").between(my / 2, my / 2 + math.max(1, my / 16)))
        val n = df.count()
        val scanned = {
          val d2 = spark.read.parquet(s"$base/$dir")
            .filter(col("x").between(mx / 2, mx / 2 + math.max(1, mx / 16)) &&
              col("y").between(my / 2, my / 2 + math.max(1, my / 16)))
          d2.collect()
          scanRows(d2.queryExecution.executedPlan)
        }
        (n, scanned)
      }
      val (nZ, scannedZ) = probe("zorder")
      val (nL, scannedL) = probe("linear")
      assert(nZ === nL, "layouts must return identical results")
      // the linear layout reads essentially everything (every file's x/y
      // stats span the full range); z-order must scan at most half of it
      assert(scannedZ * 2 <= scannedL,
        s"z-order layout scanned $scannedZ rows vs linear $scannedL — no pruning win")
      info(s"box predicate: z-order scanned $scannedZ rows, linear scanned $scannedL, result $nZ rows")
    }
  }
}
