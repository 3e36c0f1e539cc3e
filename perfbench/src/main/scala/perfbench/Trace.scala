package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced layer call: `parent` is the id of the enclosing span
  * (-1 for an op span), `op` the op id every span of one op shares. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Process-wide clocks read around every layer call. */
object Clocks {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = jit.getTotalCompilationTime
  def gcMs: Long = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum
  def loadAverage: Double = os.getSystemLoadAverage
}

/** Records a span per layer call and the Spark task metrics of the
  * jobs each call launches. Everything is kept in memory; [[spans]] and
  * [[values]] are read once the run ends.
  *
  * Spark work is attributed through the local property [[LayerKey]],
  * set around each call: Spark copies a thread's local properties into
  * every job it submits (broadcast and adaptive-stage threads included),
  * so a job's layer is the call that was on the stack when it started. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val listener = new LayerListener
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var on = false

  val spans = mutable.ArrayBuffer.empty[Span]
  /** (op, layer) -> metric -> value, summed over the op's calls. */
  val values = mutable.LinkedHashMap.empty[(Int, String), mutable.Map[String, Double]]

  def enabled: Boolean = on

  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    on = flag
  }

  def add(op: Int, layer: String, metric: String, v: Double): Unit =
    if (on) {
      val m = values.getOrElseUpdate((op, layer), mutable.Map.empty)
      m(metric) = m.getOrElse(metric, 0.0) + v
    }

  /** Run `body` as one call into `layer`; untraced it is just `body`. */
  def span[T](layer: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, layer)
      stack = id :: stack
      val (cpu0, gc0) = (Clocks.cpuNs, Clocks.gcMs)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        add(op, layer, "cpu_s", (Clocks.cpuNs - cpu0) / 1e9)
        add(op, layer, "gc_s", (Clocks.gcMs - gc0) / 1e3)
        spans += Span(id, layer, op, parent, t0, t1)
        stack = stack.tail
        sc.setLocalProperty(LayerKey, prev)
      }
    }

  /** Run `body` with its Spark jobs attributed to `label`, without a
    * span: for the benchmark's own work between layer calls. */
  def labelled[T](label: String)(body: => T): T = {
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, label)
    try body finally sc.setLocalProperty(LayerKey, prev)
  }

  /** Wait until the listener has seen every job started so far, then
    * move the task counters collected since the last call into `op`.
    * A one-task marker job is the fence: the listener bus delivers in
    * order, so once its end arrives every earlier event has too. */
  def collectTasks(op: Int): Unit = if (on) {
    val before = listener.markersEnded.get()
    labelled(Marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (listener.markersEnded.get() == before && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(listener.markersEnded.get() > before, "listener bus did not drain within 30 s")
    // a layer that launched no job still reports its counters, as 0
    (spans.filter(_.op == op).map(_.name) :+ Unattributed).distinct
      .foreach(layer => CounterKeys.foreach(add(op, layer, _, 0.0)))
    listener.drain().foreach { case (layer, counters) =>
      counters.foreach { case (k, v) => add(op, layer, k, v) }
    }
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val Marker = "__marker__"
  val Unattributed = "unattributed"
  val Checks = "checks"
  val CounterKeys = Seq("jobs", "tasks", "failed", "task_s", "task_cpu_s", "task_gc_s",
    "fetch_wait_s", "shuffle_bytes", "spill_bytes")

  /** Self time of every span: its duration minus the part of its
    * interval that its child spans cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var (curS, curE) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Sums task metrics per layer; a job's layer comes from its local
  * properties, a task's from the stage it ran in. */
final class LayerListener extends SparkListener {
  import Tracer._

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  val markersEnded = new java.util.concurrent.atomic.AtomicInteger()

  private def bump(layer: String, kv: (String, Double)*): Unit =
    counters.compute(layer, (_, old) => {
      val m = if (old == null) mutable.Map.empty[String, Double] else old
      kv.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
      m
    })

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
      .getOrElse(Unattributed)
    if (layer == Marker) markerJobs.add(e.jobId)
    else {
      e.stageIds.foreach(stageLayer.putIfAbsent(_, layer))
      bump(layer, "jobs" -> 1.0)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markersEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    if (layer != null) {
      val failed = if (e.reason == Success) 0.0 else 1.0
      val m = e.taskMetrics
      if (m == null) bump(layer, "tasks" -> 1.0, "failed" -> failed)
      else bump(layer,
        "tasks" -> 1.0,
        "failed" -> failed,
        "task_s" -> m.executorRunTime / 1e3,
        "task_cpu_s" -> m.executorCpuTime / 1e9,
        "task_gc_s" -> m.jvmGCTime / 1e3,
        "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
        "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  /** Hand over and reset the counters gathered so far. */
  def drain(): Map[String, Map[String, Double]] = {
    val out = counters.keySet().asScala.toSeq.flatMap { k =>
      Option(counters.remove(k)).map(m => k -> m.toMap)
    }.toMap
    out
  }
}
