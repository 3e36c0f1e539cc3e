package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one engine session: every main, tool and test builds its
  * SparkSession here, so the engine that is benched, verified and
  * tested runs under the same confs and the same extensions. Roles
  * differ only in cores and log level.
  *
  * Defaults are written with `setIfMissing`, so a `spark.*` JVM system
  * property overrides any of them — Spark's own override path, e.g.
  * `JAVA_TOOL_OPTIONS=-Dspark.sql.codegen.cache.maxEntries=2000` for an
  * A/B run without a recompile. Every such property is logged to
  * stderr, so the run's log proves the conf landed.
  */
object GraftSession {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  private def defaults(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // AQE's byte-based coalescing collapses the parallelism of
    // byte-small but CPU-heavy stages: the dedup verify joins shuffle
    // (long, long) candidate pairs whose per-row cost is a shingle
    // merge scan, and the 1 MiB default floor folded 32 partitions to
    // ~4 at mid-size, tripling d3's wall time (BASELINE.md round-7
    // isolation; `graft.tools.Scale d3` reruns it). 64 KiB keeps the
    // floor below total/parallelism wherever per-row compute still
    // matters.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // split single-file scans: the sf fixtures are one parquet file
    // per table (lineitem sf0.1 ≈ 11 MB), so the 128 MB default makes
    // every scan stage ONE task and serializes map-side work (s19's
    // z-key ran at ~1× parallelism on 32 cores). 4 MB mimics the
    // many-split layout a real table has at cluster scale; a real
    // deployment keeps the default — this tunes LOCAL parallelism,
    // not the plan shape.
    "spark.sql.files.maxPartitionBytes" -> "4m",
    // a TIMESTAMP(NANOS) events fixture must load at all
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // sorted bucket scans: expose sortBy order from one-file-per-bucket
    // tables (s18) so bucketed merge joins need neither Exchange nor Sort
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // graft_* SQL functions, the similarity band rule and the native
    // similarity-join planning
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  /** The session conf: `spark.*` system properties first, then every
    * default they leave unset. */
  def conf(cpus: Int): SparkConf = {
    val c = new SparkConf() // loads spark.* system properties
    val dflt = defaults(cpus)
    c.getAll.sortBy(_._1).foreach { case (k, v) =>
      val was = dflt.get(k).fold("")(d => s", default $d")
      System.err.println(s"[graft] conf $k=$v (system property$was)")
    }
    dflt.foreach { case (k, v) => c.setIfMissing(k, v) }
    c
  }

  def build(cpus: Int = envCpus, logLevel: String = "ERROR"): SparkSession = {
    val s = SparkSession.builder().config(conf(cpus)).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
