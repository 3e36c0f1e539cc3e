package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The one plan printer: dump `explain("formatted")` for a list of
  * queries to `plans/<tag>/<query>_<suffix>.txt`, in the
  * [[graft.GraftSession]] that Bench and Verify run, so the captured
  * shapes are the ones the bench times.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.PlanDump <suffix> <q1> <q2> ..."`
  * writes `plans/r17/<q>_<suffix>.txt` (suffix = before / after).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    Files.createDirectories(Paths.get("plans/r17"))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(s"plans/r17/${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"wrote plans/r17/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
