package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev profiling harness (optimization rounds): runs the named queries
  * in Bench's session ([[graft.GraftSession]], so a `-Dspark.*` A/B
  * conf applies here too) and, per query, splits the steady-state
  * wall into construct (query-fn eager work: memo
  * builds, counts, checkpoints), plan (toRdd), and execute, alongside
  * scheduler-side counters (jobs / stages / tasks / summed task time /
  * executor run time / GC) from a listener. The per-phase deltas make
  * "where does the wall go" readable: exec-wall ≫ task-time/cores means
  * stage-latency or dispatch bound; construct-wall dominant means the
  * timed region is paying driver-side eager actions.
  *
  * Usage: SPARK_GRAFT_ONLY=a,b,c sbt "runMain graft.tools.Profile"
  * (args also accepted; default = all queries, sorted by name).
  */
object Profile {
  private class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val runTimeMs = new AtomicLong
    val gcTimeMs = new AtomicLong
    val deserMs = new AtomicLong
    val fetchWaitMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      taskTimeMs.addAndGet(t.taskInfo.duration)
      val m = t.taskMetrics
      if (m != null) {
        runTimeMs.addAndGet(m.executorRunTime)
        gcTimeMs.addAndGet(m.jvmGCTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      }
      ()
    }
    def snap: Seq[Long] = Seq(jobs.get.toLong, stages.get.toLong, tasks.get.toLong,
      taskTimeMs.get, runTimeMs.get, gcTimeMs.get, deserMs.get, fetchWaitMs.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    val listener = new Counters
    spark.sparkContext.addSparkListener(listener)

    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq).getOrElse(
        graft.SparkEntry.queries.keys.toSeq.sorted)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "3").toInt

    graft.queries.Caches.release(spark, sfDir)
    println(f"${"query"}%-28s ${"cons"}%6s ${"plan"}%6s ${"exec"}%6s | ${"jobs"}%4s ${"stg"}%4s ${"tasks"}%5s ${"taskS"}%7s ${"runS"}%7s ${"gcS"}%5s ${"fetchS"}%6s")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      var line = ""
      (1 to passes).foreach { p =>
        val s0 = listener.snap
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val rdd = df.queryExecution.toRdd
        val t2 = System.nanoTime()
        rdd.count()
        val t3 = System.nanoTime()
        val s1 = listener.snap
        val d = s1.zip(s0).map { case (a, b) => a - b }
        line = f"$n%-28s ${(t1 - t0) / 1e9}%6.2f ${(t2 - t1) / 1e9}%6.2f ${(t3 - t2) / 1e9}%6.2f | ${d(0)}%4d ${d(1)}%4d ${d(2)}%5d ${d(3) / 1e3}%7.1f ${d(4) / 1e3}%7.1f ${d(5) / 1e3}%5.1f ${d(7) / 1e3}%6.1f"
        if (p < passes) println(line + s"  [pass $p]")
      }
      println(line)
    }
    spark.stop()
  }
}
