package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM):
  * the engine session Bench and Verify run, at 4 cores. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.build(cpus = 4, logLevel = "WARN")
  val sfDir = "/root/testdata/sf0.001"

  /** `body` over a fresh temp directory `<prefix>…`, deleted afterwards
    * whether or not `body` throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally graft.tools.Scale.deleteTree(dir)
  }
}
