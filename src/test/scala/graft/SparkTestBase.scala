package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM):
  * the engine session Bench and Verify run, at 4 cores. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.build(cpus = 4, logLevel = "WARN")
  val sfDir = "/root/testdata/sf0.001"
}
