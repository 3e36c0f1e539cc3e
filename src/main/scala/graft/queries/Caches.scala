package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Central lifecycle registry for the per-(JVM, fixture-dir) state the
  * query modules memoize between invocations: cached DataFrames (BSP
  * label frames, the sync dataflow's intermediates, shingle/pair caches),
  * driver-side trained artifacts (PQ codebooks, IVF coarse centroids),
  * and materialized landing directories (s15/s16).
  *
  * The memos exist because a bench/serving session replays the same
  * fixture dir many times — but a long-lived session iterating over
  * MANY dirs would otherwise grow them without bound and pin executor
  * storage (the round-5 audit's "operational leak"). This registry is
  * the one entry point that returns a dir's footprint to baseline:
  * modules register a cleanup thunk when they create a memo, and
  * [[release]] drains them.
  *
  * Invalidation contract: memos are keyed by the fixture dir PATH and
  * assume its files are immutable while memoized (the steady-state
  * fixture contract). Regenerating files under a live JVM requires
  * `Caches.release(spark, dir)` first — otherwise stale codebooks,
  * centroids, or landing files are served and the oracle comparison
  * diverges.
  */
object Caches {

  /** Cleanups per dir; each takes [[release]]'s `blocking` flag. */
  private val tracked =
    new java.util.concurrent.ConcurrentHashMap[String, List[Boolean => Unit]]()

  private def register(dir: String)(cleanup: Boolean => Unit): Unit =
    tracked.merge(dir, List(cleanup), (older, newer) => newer ::: older)

  /** Register a cleanup thunk for a fixture dir, run (once) at
    * [[release]]. Thunks must be idempotent and order-independent. */
  def track(dir: String)(cleanup: () => Unit): Unit =
    register(dir)(_ => cleanup())

  /** Cache `df` and register its unpersist for the dir's release —
    * the pattern for query-internal frames that outlive one invocation.
    * Spark's CacheManager keys caches by plan, so a repeat invocation
    * that rebuilds an equal plan finds it cached and registers nothing:
    * one cleanup per cached plan, however often it is asked for.
    * Returns `df` for chaining. */
  def trackCached(dir: String, df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.cache()
      register(dir)(blocking => { df.unpersist(blocking); () })
    }
    df
  }

  /** Eagerly localCheckpoint `df` — cutting its lineage to a
    * LogicalRDD — and track the backing RDD for deterministic release.
    *
    * This is THE pattern for iterative BSP loops: a cache()-per-round
    * loop keeps each round's plan nested inside the next round's (and
    * a self-join references it twice), so Spark's per-action plan
    * STRINGIFICATION walks an exponentially expanded tree even though
    * execution reads caches — measured in d13's label loop as round
    * costs growing 2.5 → 8.9 s on ~200-row frames, with explain
    * strings taking minutes by round 6. A checkpoint bounds the plan
    * at one node per round.
    *
    * After release the checkpointed data is gone AND unrecoverable
    * (lineage was truncated) — release a dir only when its results are
    * fully materialized, per this registry's contract. */
  def checkpointed(dir: String, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(rdd => register(dir)(blocking => { rdd.unpersist(blocking); () }))
    cp
  }

  /** Drop catalog tables through whatever session is LIVE at cleanup
    * time: a thunk that captured the creating session would both fail
    * after that session stops and pin it against GC. No-op when no
    * session is up (the in-memory catalog died with it anyway). */
  def dropTables(tbls: String*): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .foreach(s => tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t")))

  /** Delete a materialized landing directory at release (s15/s16). */
  def trackPath(dir: String, path: java.io.File): Unit =
    track(dir) { () =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(path)
    }

  /** Drop every memo registered for one fixture dir: run and clear
    * its tracked thunks; cached frames and checkpoints unpersist with
    * `blocking`. The registry is keyed by dir alone, so `s` does not
    * narrow what is released. Returns the number of cleanups
    * performed. */
  def release(s: SparkSession, dir: String, blocking: Boolean = false): Int = {
    val thunks = Option(tracked.remove(dir)).getOrElse(Nil)
    // best-effort: a thunk that throws (e.g. DROP TABLE through an
    // already-stopped session for the s18/d24/d26 catalog landings)
    // must not abort the rest of the dir's cleanup or crash the caller
    // — release runs at bench/test boundaries where a partial cleanup
    // beats a propagated failure. Only NON-fatal failures are
    // swallowed: an OutOfMemoryError or other VirtualMachineError must
    // propagate (the JVM is already broken), and an interrupt is
    // re-flagged so the caller's cancellation still lands.
    thunks.foreach { t =>
      try t(blocking)
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          System.err.println(s"[caches] release thunk interrupted for $dir: ${e.getMessage}")
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[caches] release thunk failed for $dir: ${e.getMessage}")
      }
    }
    thunks.size
  }

  /** Release every dir's memos for a session. */
  def releaseAll(s: SparkSession, blocking: Boolean = false): Int = {
    import scala.jdk.CollectionConverters._
    tracked.keySet().asScala.toSeq.map(release(s, _, blocking)).sum
  }
}
