package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.queries.Caches
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates
  * the inputs and starts it as
  *
  *   perfbench.Main <input dir> <work dir> <record file> <seconds> <trace 0|1> [<broken op>]
  *
  * where `<broken op>` is the index of a measured op made to fail (the
  * benchmark's own tests use it).
  *
  * It sets up (session start plus a warmup op, twice), runs sync ops
  * for at least `seconds`, checks every op's outputs, writes the full
  * run record to `<record file>` and prints one JSON result line on
  * stdout. Exit code 0 when every check passed and no op failed other
  * than the broken one, 1 otherwise. */
object Main {
  /** Session starts per run; `setup_s` is their median. Each round
    * runs one op, so the rounds double as the JIT warmup. */
  val SetupRounds = 2
  /** The JIT keeps improving an op for ~8 executions, which a run
    * cannot afford. The end-to-end figures are therefore taken over a
    * fixed number of ops at fixed positions: the first `MeasuredOps`
    * completed untraced ops after the setup rounds. `seconds` is only a
    * minimum run time; ops beyond these go to the record only, so a
    * faster op does not buy itself later, faster positions. */
  val MeasuredOps = 2
  /** Traced runs alternate traced and untraced ops, this many each. */
  val TracedOps = 2
  val MaxFailedOps = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(cpus: Int, work: String): SparkSession = {
    // Bench's session confs (graft.Bench), so the benchmark runs the
    // engine the repo benches and verifies.
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(args: Array[String]): Int = {
    val Array(input, work, recordPath, secondsArg, traceArg) = args.take(5)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val brokenOp = args.lift(5).map(_.toInt).getOrElse(-1)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val exp = Expected.load(input)
    Files.createDirectories(Paths.get(work, "out"))
    val sync = new Sync(input, s"$work/out")
    val baseGrid = XlsxGrid.read(sync.basePath)

    val problems = mutable.ArrayBuffer.empty[String]
    var digest: String = null
    var attempted = 0
    var failed = 0
    var nextOp = 0

    /** One op, timed, then checked; None when it failed, so a failed op
      * is never timed. Only the op runs inside the failure catch: a
      * check that throws is a failed check, and any failure other than
      * the deliberately broken op's is one too. */
    def attempt(spark: SparkSession, t: Tracer, broken: Boolean = false): Option[Sample] = {
      val id = nextOp
      nextOp += 1
      attempted += 1
      val (cpu0, jit0) = (Clocks.cpuNs, Clocks.jitMs)
      val t0 = System.nanoTime()
      val done =
        try Some(t.span("op", id)(sync.op(spark, t, id, broken)))
        catch {
          case NonFatal(e) =>
            failed += 1
            log(s"op $id failed: $e")
            if (!broken) problems += s"op $id failed: $e"
            None
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Clocks.cpuNs - cpu0) / 1e9
      val jit = (Clocks.jitMs - jit0) / 1e3
      done.map { out =>
        val found =
          try t.labelled(Tracer.Checks) {
            val d = SyncChecks.digest(out.cascade)
            if (digest == null) digest = d
            SyncChecks(out, exp, baseGrid) ++
              (if (d != digest) Seq(s"cascade digest $d != $digest") else Nil)
          } catch {
            case NonFatal(e) => Seq(s"a check threw $e")
          }
        t.collectTasks(id)
        found.foreach(p => problems += s"op $id: $p")
        log(f"op $id: ${wall}%.3f s wall, ${cpu}%.3f CPU-s, ${jit}%.3f s JIT${if (found.nonEmpty) " CHECK FAILED" else ""}")
        Sample(id, wall, cpu, jit, out.items, t.enabled)
      }
    }

    // ---- setup: session start plus a warmup op, several times ----
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setups = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Double]
    (1 to SetupRounds).foreach { round =>
      if (spark != null) {
        Caches.release(spark, input)
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      tracer = new Tracer(spark)
      attempt(spark, tracer).foreach(warm += _.wallS)
      setups += (System.nanoTime() - t0) / 1e9
      log(f"setup round $round: ${setups.last}%.3f s")
    }
    val setupTotal = (System.currentTimeMillis() - jvmStart) / 1e3

    // ---- measured ops ----
    // Untraced runs time every op. A traced run alternates traced and
    // untraced ops: per-layer figures come from the traced ones, and
    // the gap between the two medians is the tracing overhead.
    val samples = mutable.ArrayBuffer.empty[Sample]
    val measureStart = System.nanoTime()
    val (warmAttempted, warmFailed) = (attempted, failed)
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    val (needPlain, needTraced) = if (traced) (TracedOps, TracedOps) else (MeasuredOps, 0)
    def enough: Boolean = elapsed >= seconds &&
      samples.count(!_.traced) >= needPlain && samples.count(_.traced) >= needTraced
    while (!enough && failed - warmFailed <= MaxFailedOps) {
      val n = attempted - warmAttempted
      tracer.enable(traced && n % 2 == 0)
      attempt(spark, tracer, broken = n == brokenOp).foreach(samples += _)
      tracer.enable(false)
    }
    if (!enough) problems += s"more than $MaxFailedOps measured ops failed"

    // retained heap: what survives full collections at the end; the
    // smallest of a few readings, so a transient object does not count
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // the fixed positions: extra ops past these are in the record only
    val plain = samples.filter(!_.traced).take(needPlain).toSeq
    val timed = samples.filter(_.traced).take(needTraced).toSeq
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "op_s_p50" -> (median(plain.map(_.wallS)) -> "s"),
      "op_cpu_s_p50" -> (median(plain.map(_.cpuS)) -> "CPU-s"),
      "items_per_s" -> (plain.map(_.items).sum / plain.map(_.wallS).sum -> "items/s"),
      "setup_s" -> (median(setups.toSeq) -> "s"),
      "retained_heap_mb" -> (heapMb -> "MB"))

    val perLayer = if (traced) layerMetrics(tracer, timed.map(_.op).toSet) else Map.empty[String, (Double, String)]
    val traceMetrics = if (traced) {
      val over = median(timed.map(_.wallS)) - median(plain.map(_.wallS))
      Map("trace.overhead_s" -> (over -> "s"),
        "trace.overhead_ratio" -> (over / median(plain.map(_.wallS)) -> "ratio"))
    } else Map.empty[String, (Double, String)]

    val host = Map(
      "load_avg_1m" -> Clocks.loadAverage,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java_version" -> System.getProperty("java.version"))
    spark.stop()

    val correct = problems.isEmpty
    val shown = if (traced) perLayer ++ traceMetrics else endToEnd
    val metrics = shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Map(
      "correct" -> correct,
      "attempted" -> (attempted - warmAttempted),
      "failed" -> (failed - warmFailed),
      "metrics" -> metrics)

    val record = Map(
      "input" -> input,
      "traced" -> traced,
      "host" -> host,
      "setup_rounds_s" -> setups,
      "setup_total_s" -> setupTotal,
      "warmup_ops_s" -> warm,
      "ops" -> samples.map(o =>
        Map("op" -> o.op, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "jit_s" -> o.jitS, "items" -> o.items,
          "traced" -> o.traced, "measured" -> (plain.contains(o) || timed.contains(o)))),
      "cascade_digest" -> digest,
      "problems" -> problems,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> (perLayer ++ traceMetrics).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "result" -> result)
    Files.write(Paths.get(recordPath), json.writeValueAsString(record).getBytes(StandardCharsets.UTF_8))
    problems.take(20).foreach(p => log(s"check failed: $p"))
    println(json.writeValueAsString(result))
    if (correct) 0 else 1
  }

  /** Per-layer metric -> (median over the traced ops `ops`, unit). */
  def layerMetrics(t: Tracer, ops: Set[Int]): Map[String, (Double, String)] = {
    val self = Tracer.selfSeconds(t.spans.toSeq)
    // span wall and self time per (op, layer)
    val extra = mutable.Map.empty[(Int, String), mutable.Map[String, Double]]
    t.spans.filter(s => ops(s.op)).foreach { s =>
      val m = extra.getOrElseUpdate((s.op, s.name), mutable.Map.empty)
      m("wall_s") = m.getOrElse("wall_s", 0.0) + s.seconds
      m("self_s") = m.getOrElse("self_s", 0.0) + self(s.id)
    }
    val byLayer = mutable.Map.empty[String, mutable.Map[String, mutable.ArrayBuffer[Double]]]
    val ids = (t.values.keySet.filter(k => ops(k._1)) ++ extra.keySet).toSeq
    ids.foreach { key =>
      val vals = t.values.getOrElse(key, mutable.Map.empty[String, Double]) ++
        extra.getOrElse(key, mutable.Map.empty[String, Double])
      vals.foreach { case (metric, v) =>
        byLayer.getOrElseUpdate(key._2, mutable.Map.empty)
          .getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
      }
    }
    byLayer.toSeq.flatMap { case (layer, ms) =>
      ms.toSeq.map { case (metric, vs) =>
        // a counter missing from an op is a zero for that op
        val padded = vs.toSeq ++ Seq.fill(math.max(0, ops.size - vs.length))(0.0)
        s"$layer.$metric" -> (median(padded) -> Units.of(metric))
      }
    }.toMap
  }
}

/** One measured op. */
final case class Sample(op: Int, wallS: Double, cpuS: Double, jitS: Double, items: Long, traced: Boolean)

object Units {
  def of(metric: String): String = metric match {
    case m if m.endsWith("_per_s") => "cells/s"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") || m == "bytes" => "bytes"
    case m if m.endsWith("_ratio") => "ratio"
    case _ => "count"
  }
}
