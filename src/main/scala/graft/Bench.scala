package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint: runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, writes the full per-query steady-state seconds
  * map to `bench_results.json`, and prints a SHORT summary JSON line
  * (total, query count, slowest-5) to stdout — short enough that the
  * driver's captured record parses intact.
  *
  * Methodology (JMH-style):
  *   1. one untimed warmup pass over all queries — absorbs codegen + JIT
  *      of UDF inner loops and materializes shared cascade caches (the
  *      fuzzy join's first run otherwise pays ~30 s vs a ~5 s steady
  *      state);
  *   2. two timed passes in deterministic sorted-name order, reporting
  *      the per-query MINIMUM. The minimum is the honest steady-state
  *      figure: a single pass attributes whatever GC pause the previous
  *      (allocation-heavy) query triggered to an innocent neighbour —
  *      that mis-attribution is what made `p10_pending_filter` read
  *      4.14 s in round 2 while the query itself was unchanged;
  *   3. one artifact-cold pass: every per-dir memo released before each
  *      query, timed in wall and process-CPU seconds.
  *
  * [[measure]] holds these passes; the scale harness
  * (`graft.tools.Scale`, test scope) times its replicas through it.
  * A query that throws (non-fatally) in any pass is listed under
  * `failed` and left out of every timing map and total: a failure must
  * never read as a fast query. Fatal JVM errors end the run.
  *
  * Output values are rounded to 3 decimals and keys sorted so the line
  * stays short and stable for the driver's parser.
  */
object Bench {
  private val MeasuredPasses = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()

    // Dev-only subset filter (unset for the driver's full runs).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)

    // SPARK_GRAFT_COLD=0 skips the cold pass in dev loops.
    val m = measure(spark, sfDir, ordered, cold = sys.env.getOrElse("SPARK_GRAFT_COLD", "1") != "0")

    def fmt(d: Double): String = f"$d%.3f"
    val ok = ordered.map(_._1).filterNot(m.failed.contains)
    def obj(t: Map[String, Double]): String =
      ok.filter(t.contains).map(name => s"\"$name\":${fmt(t(name))}").mkString("{", ",", "}")
    val total = m.steady.values.sum
    val cpuTotal = m.steadyCpu.values.sum
    val coldTotal = m.cold.values.sum // a failed query is never run cold
    val coldCpuTotal = m.coldCpu.values.sum
    val failedJson = m.failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_total":${fmt(cpuTotal)},""" +
        s""""cold_total":${fmt(coldTotal)},"cold_cpu_total":${fmt(coldCpuTotal)},""" +
        s""""load_avg":${fmt(m.loadAvg)},""" +
        s""""queries":${obj(m.steady)},"queries_cpu":${obj(m.steadyCpu)},""" +
        s""""queries_cold":${obj(m.cold)},"queries_cold_cpu":${obj(m.coldCpu)},""" +
        s""""failed":$failedJson,"sf":"$sfDir"}"""
    Files.write(Paths.get("bench_results.json"), full.getBytes(StandardCharsets.UTF_8))

    // The FULL contract line ({"metric",...,"queries":{...}}) goes to
    // stdout FIRST: a consumer that reads the whole stream gets the
    // per-query map (the driver contract's literal shape — PERF_r17
    // recorded per_query empty because only the short line below was
    // ever parseable from the captured tail).
    println(full)
    // ... and stdout ALSO gets a SHORT line (total + count + slowest-5)
    // LAST, so a consumer that keeps only a bounded tail of stdout
    // still parses an intact JSON line. (Rounds 2-4 printed ONLY the
    // full map and the driver's 2000-char captured tail truncated it
    // mid-JSON: "parsed": null — the head of the line was cut, so the
    // tail never contained a complete '{"metric"...' candidate. With
    // full-then-short, the short line is the only complete candidate
    // in the tail.) Its own metric key keeps a consumer that takes the
    // last "metric":"total" line on the full record.
    val slowest = ok.map(n => n -> m.steady(n)).sortBy(-_._2).take(5)
      .map { case (n, v) => s"""{"query":"$n","sec":${fmt(v)}}""" }
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total_summary","value":${fmt(total)},"unit":"sec",""" +
      s""""cpu_total":${fmt(cpuTotal)},"cold_total":${fmt(coldTotal)},""" +
      s""""load_avg":${fmt(m.loadAvg)},""" +
      s""""n_queries":${ok.size},"n_failed":${m.failed.size},"slowest":$slowest,"sf":"$sfDir",""" +
      s""""detail":"bench_results.json"}"""
    println(line)
    spark.stop()
  }

  /** One measurement of `qs` over `dir`, in name order as given:
    * `steady`/`steadyCpu` are the per-query minimum wall seconds and
    * the process-CPU seconds of that same pass, `cold`/`coldCpu` the
    * artifact-cold pass (empty when `cold` is false). A query listed
    * in `failed` appears in no timing map. `loadAvg` is the host's
    * 1-minute load average at the end. */
  final case class Measured(steady: Map[String, Double], steadyCpu: Map[String, Double],
      cold: Map[String, Double], coldCpu: Map[String, Double],
      failed: Seq[String], loadAvg: Double)

  /** Bench's methodology over any query list, for Bench itself and for
    * the scale harness. */
  def measure(spark: SparkSession, dir: String, qs: Seq[(String, queries.QueryFn)],
      cold: Boolean = true): Measured = {
    // Release any per-dir memo state a previous phase in this JVM built
    // (cached frames, centroid arrays, edge sets, landed files): the
    // measured passes must never read another phase's memos, so every
    // bench invocation reproduces the same cold-start → warmup →
    // steady-state discipline whether the JVM is fresh (the driver's
    // runs) or reused (a dev loop). The round-8 committed map was
    // polluted exactly this way — ~99 sub-10 ms rows for queries whose
    // fresh steady state is seconds.
    queries.Caches.release(spark, dir)

    // Runs one query to completion; a non-fatal failure marks it
    // failed (logged once) and it is never run or timed again.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    def run(name: String, fn: queries.QueryFn): Boolean =
      !failed(name) && {
        try { fn(spark, dir).queryExecution.toRdd.count(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
          false
        }
      }

    val warmSecs = qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      run(name, fn)
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    // The difflib-parity UDF loops need ~3 executions before C2 settles
    // (45 → 20 → 5 s historically); one extra warmup for anything still
    // slow after the first keeps the measured minimum honest instead of
    // JIT-state-dependent across bench invocations.
    qs.foreach { case (name, fn) =>
      if (warmSecs(name) > 2.0) run(name, fn)
    }

    // Process-CPU seconds per query alongside wall seconds: on a
    // contended host wall time inflates while CPU time stays flat, so
    // a wall/CPU divergence across rounds distinguishes "the host was
    // busy" from "the query regressed" without a rerun (the 85.2 s
    // round-6 close-out swing would have been self-evident).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** (wall, CPU) seconds of one run, None when it failed. */
    def timed(name: String, fn: queries.QueryFn): Option[(Double, Double)] = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val ok = run(name, fn)
      val sec = (System.nanoTime() - t0) / 1e9
      Option.when(ok)((sec, (osBean.getProcessCpuTime - c0) / 1e9))
    }
    val best = scala.collection.mutable.Map.empty[String, (Double, Double)]
    (1 to MeasuredPasses).foreach { _ =>
      qs.foreach { case (name, fn) =>
        // CPU of the SAME pass as the reported wall
        timed(name, fn).foreach { t =>
          if (t._1 < best.get(name).fold(Double.MaxValue)(_._1)) best(name) = t
        }
      }
    }

    // Third measured map: COLD per-query cost. Before each query every
    // per-dir memo (cached frames, trained codebooks, landed artifact
    // dirs) is dropped, so the figure is what a first-run user pays —
    // the steady-state map above is the marginal cost once shared
    // artifacts exist. JIT stays warm (the passes above ran), so "cold"
    // means artifact-cold, not JVM-cold: exactly the production
    // first-run. Its CPU twin separates a busy host from a regression
    // the way the steady CPU map does.
    val coldRuns = if (!cold) Map.empty[String, (Double, Double)] else qs.flatMap { case (name, fn) =>
      queries.Caches.release(spark, dir)
      timed(name, fn).map(name -> _)
    }.toMap

    // Host-load telemetry: the r13 cold map was contaminated by outside
    // load (BASELINE.md round-14 A/B attribution), and diagnosing it
    // required a rerun. The 1-minute load average at the END, next to
    // the JVM's own core count, makes "was the host busy" readable off
    // the record (load >> cpus while wall inflates under flat CPU =
    // contention, not regression).
    def ok(m: scala.collection.Map[String, (Double, Double)], f: ((Double, Double)) => Double) =
      m.collect { case (n, t) if !failed(n) => n -> f(t) }.toMap
    Measured(ok(best, _._1), ok(best, _._2), ok(coldRuns, _._1), ok(coldRuns, _._2),
      failed.toSeq, osBean.getSystemLoadAverage)
  }
}
