package graft.queries

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one registry for what the query modules keep between
  * invocations: memoized values, frames and driver-side arrays (edge
  * sets, trained codebooks, centroids) through [[memo]], materialized
  * landing directories and catalog tables through [[landed]], and the
  * cached frames and checkpoints behind them through [[trackCached]]
  * and [[checkpointed]].
  *
  * The memos exist because a bench/serving session replays the same
  * fixture dir many times; the registry is what returns a dir's
  * footprint to baseline in a long-lived session iterating over many
  * dirs.
  *
  * Contract:
  *  - Key: an artifact is memoized per (session, fixture dir, name).
  *    A second session — `spark.newSession()` included — builds its
  *    own entry and is never served another session's frames. Each
  *    artifact is built at most once per key, outside any map lock, so
  *    a build may serve other artifacts (d9 builds on d2, which builds
  *    on the shingles frame).
  *  - Validity: before a landing is served again, its directory must
  *    still exist and each of its tables must exist in the requesting
  *    session's catalog; otherwise it is rebuilt.
  *  - Sweeping: entries of stopped sessions are dropped whenever a new
  *    entry is inserted.
  *  - Release: [[release]] drops a dir's entries for every session and
  *    runs its cleanups — unpersist, landing delete, table drop. Memos
  *    assume the dir's files are immutable while memoized;
  *    regenerating them under a live JVM requires a release first.
  */
object Caches {

  /** Cleanups per dir; each takes [[release]]'s `blocking` flag. */
  private val tracked = new ConcurrentHashMap[String, List[Boolean => Unit]]()

  private def register(dir: String)(cleanup: Boolean => Unit): Unit =
    tracked.merge(dir, List(cleanup), (older, newer) => newer ::: older)

  /** One artifact's build, run at most once, and the check its value
    * must pass before it is served again. */
  private final class Entry(build: () => Any, val valid: () => Boolean) {
    @volatile var builder: Thread = _
    val task = new FutureTask[Any](() => build())
    def run(): Unit = { builder = Thread.currentThread(); task.run() }
  }

  /** Entries per dir, keyed by (session, name). */
  private val entries =
    new ConcurrentHashMap[String, ConcurrentHashMap[(SparkSession, String), Entry]]()

  private def sweepStopped(): Unit =
    entries.values().forEach(_.keySet().removeIf(_._1.sparkContext.isStopped))

  private def serve[T](s: SparkSession, dir: String, name: String,
      valid: () => Boolean)(build: => T): T = {
    val byKey = entries.computeIfAbsent(dir, _ => new ConcurrentHashMap())
    val key = (s, name)
    val fresh = new Entry(() => build, valid)
    val e = byKey.putIfAbsent(key, fresh) match {
      case null => sweepStopped(); fresh.run(); fresh
      case old if old.task.isDone && !old.valid() =>
        byKey.remove(key, old)
        return serve(s, dir, name, valid)(build)
      case old if !old.task.isDone && (old.builder eq Thread.currentThread()) =>
        throw new IllegalStateException(s"$name for $dir is needed by its own build")
      case old => old
    }
    try e.task.get().asInstanceOf[T]
    catch {
      case x: ExecutionException =>
        byKey.remove(key, e) // a failed build is retried by the next caller
        throw x.getCause
    }
  }

  /** The value `build` returns, built once per (session, dir, name). */
  def memo[T](s: SparkSession, dir: String, name: String)(build: => T): T =
    serve(s, dir, name, () => true)(build)

  /** The names of one landing, derived from the artifact name, this
    * JVM's PID and a digest of the full fixture dir, so concurrent
    * JVMs and dirs never collide: the directory [[path]]
    * (`<tmpdir>/graft_<name>_<pid>_<tag>`), one catalog table
    * `graft_<name>_<part>_<pid>_<tag>` per declared part, and any
    * [[sidecar]] directories. [[release]] deletes them all. */
  final class Landing private[Caches] (dir: String, name: String, parts: Seq[String]) {
    val path: String = landingPath(dir, name)
    val tables: Seq[String] = parts.map(p => s"graft_${name}_${p}_${suffix(dir)}")

    /** A second directory `graft_<name>_<part>_<pid>_<tag>`, for files
      * that must not sit inside a table's location. */
    def sidecar(part: String): String = {
      val f = new java.io.File(landingPath(dir, s"${name}_$part"))
      trackPath(dir, f)
      f.getAbsolutePath
    }
  }

  /** `<pid>_<tag>`: this JVM's PID and a digest of the full fixture dir. */
  private def suffix(dir: String): String = s"${ProcessHandle.current().pid()}_" +
    java.util.UUID.nameUUIDFromBytes(
      dir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.take(8)

  /** The directory `<tmpdir>/graft_<name>_<pid>_<tag>` where this JVM
    * lands artifact `name` of fixture dir `dir`. */
  private[graft] def landingPath(dir: String, name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${name}_${suffix(dir)}")
      .getAbsolutePath

  /** The value `write` returns after landing an artifact, built once
    * per (session, dir, name) and rebuilt when its directory or one of
    * its `tables` is gone. `write` must put the artifact under the
    * landing's [[Landing.path]] and save each of its
    * [[Landing.tables]]. */
  def landed[T](s: SparkSession, dir: String, name: String, tables: String*)(
      write: Landing => T): T = {
    val l = new Landing(dir, name, tables)
    serve(s, dir, name,
      () => new java.io.File(l.path).exists() && l.tables.forall(s.catalog.tableExists)) {
      register(dir)(_ => dropTables(l.tables))
      trackPath(dir, new java.io.File(l.path))
      write(l)
    }
  }

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
  private def dropTables(tbls: Seq[String]): Unit =
    if (tbls.nonEmpty)
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .filterNot(_.sparkContext.isStopped)
        .foreach(s => tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t")))

  /** Delete a landing directory at the dir's release. */
  private def trackPath(dir: String, path: java.io.File): Unit =
    register(dir) { _ =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(path)
    }

  /** Drop every entry and cleanup registered for one fixture dir, for
    * every session: cached frames and checkpoints unpersist with
    * `blocking`, landings are deleted and their tables dropped. `s`
    * does not narrow what is released. Returns the number of entries
    * dropped plus cleanups performed. */
  def release(s: SparkSession, dir: String, blocking: Boolean = false): Int = {
    val dropped = Option(entries.remove(dir)).fold(0)(_.size)
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
    dropped + thunks.size
  }

  /** Release every dir's memos for a session. */
  def releaseAll(s: SparkSession, blocking: Boolean = false): Int = {
    import scala.jdk.CollectionConverters._
    (tracked.keySet().asScala ++ entries.keySet().asScala).toSeq
      .map(release(s, _, blocking)).sum
  }
}
