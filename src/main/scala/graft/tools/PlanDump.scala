package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The one plan printer: dump `explain("formatted")` for a list of
  * queries to `plans/<tag>/<query>_<suffix>.txt`, in the
  * [[graft.GraftSession]] that Bench and Verify run, so the captured
  * shapes are the ones the bench times.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.PlanDump <tag> <suffix> <q1> <q2> ..."`
  * writes `plans/<tag>/<q>_<suffix>.txt` (suffix = before / after). An
  * absolute `<tag>` is the output directory itself, so an A/B capture
  * can write outside the checkout.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...")
    val Array(tag, suffix) = args.take(2)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = Paths.get("plans").resolve(tag)
    val spark = graft.GraftSession.build()
    Files.createDirectories(out)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val file = out.resolve(s"${n}_$suffix.txt")
      Files.write(file, txt.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $file (${txt.length} chars)")
    }
    spark.stop()
  }
}
