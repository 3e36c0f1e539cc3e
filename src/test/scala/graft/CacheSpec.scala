package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.queries.{AnnQueries, Caches, DedupQueries, MatchQueries, PipelineQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Cache lifecycle: [[graft.queries.Caches]] is the one entry point
  * that returns a fixture dir's footprint — cached frames, driver-side
  * trained artifacts, materialized landing dirs — to baseline, so a
  * long-lived session iterating over many dirs doesn't pin storage. */
class CacheSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  test("release returns cached frames, memo maps, and landing dirs to baseline") {
    val sc = spark.sparkContext
    // earlier suites in the same JVM may have left tracked caches for
    // this dir — drain them so the before-snapshot is a true baseline
    Caches.releaseAll(spark, blocking = true)
    val before = sc.getPersistentRDDs.keySet

    // exercise every memoizing family: BSP clustering (d13: pair cache
    // + final label frame + coarse centroids), PageRank's edge/rank
    // caches, the PQ codebook, both landing-dir writers, and the sync
    // dataflow's cached frames
    DedupQueries.queries("d13_semantic_clusters")(spark, sfDir).collect()
    DedupQueries.queries("d12_pagerank")(spark, sfDir).collect()
    AnnQueries.queries("x6_pq_assign")(spark, sfDir).collect()
    PipelineQueries.queries("s15_partition_prune")(spark, sfDir).collect()
    PipelineQueries.queries("s16_schema_evolution")(spark, sfDir).collect()
    MatchQueries.queries("e2_cascade")(spark, sfDir).collect()

    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "the cache-heavy queries should persist frames")
    // landing dirs carry this JVM's PID, so leftovers from other
    // processes' runs can't flip the assertion
    def landings() = Seq("s15", "s16")
      .map(n => new java.io.File(Caches.landingPath(sfDir, n))).filter(_.exists)
    assert(landings().nonEmpty, "landing dirs materialized")

    val released = Caches.release(spark, sfDir, blocking = true)
    assert(released > 0, "release should report performed cleanups")

    val after = sc.getPersistentRDDs.keySet
    assert(after.intersect(during).isEmpty,
      s"cached RDDs survived release: ${after.intersect(during)}")
    assert(landings().isEmpty, "landing dirs deleted on release")
    // released state is rebuildable: the queries still answer (memos
    // and landing files regenerate on demand)
    assert(PipelineQueries.queries("s15_partition_prune")(spark, sfDir).count() > 0)
  }

  test("trackCached registers one cleanup per cached plan") {
    val sc = spark.sparkContext
    val dir = s"trackcached-${System.nanoTime()}"
    def build = spark.range(100).selectExpr("id * 3 AS x")
    val before = sc.getPersistentRDDs.keySet
    Caches.trackCached(dir, build).count()
    Caches.trackCached(dir, build).count()
    val cached = sc.getPersistentRDDs.keySet -- before
    assert(cached.size === 1)
    assert(Caches.release(spark, dir, blocking = true) === 1)
    assert(build.storageLevel === StorageLevel.NONE)
    assert(sc.getPersistentRDDs.keySet.intersect(cached).isEmpty)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  test("release drops the d24 and s18 catalog tables and landings; serving rebuilds them") {
    def serve() = {
      val bands = DedupQueries.bandLandingFor(spark, sfDir)
      val (orders, lineitem) = PipelineQueries.bucketedFor(spark, sfDir)
      Seq(bands, orders, lineitem)
    }
    val paths = Seq("d24", "s18").map(n => new java.io.File(Caches.landingPath(sfDir, n)))
    val tables = serve()
    assert(tables.forall(spark.catalog.tableExists), tables)
    assert(paths.forall(_.isDirectory), paths)

    Caches.release(spark, sfDir, blocking = true)
    tables.foreach(t => assert(!spark.catalog.tableExists(t), s"$t survived release"))
    paths.foreach(p => assert(!p.exists(), s"$p survived release"))

    assert(serve() === tables)
    assert(tables.forall(spark.catalog.tableExists), "tables rebuilt")
    assert(paths.forall(_.isDirectory), "landings rebuilt")
    assert(spark.table(tables.head).count() > 0)
  }

  test("a memo build may serve other memos; each artifact is built once") {
    val dir = s"memo-nested-${System.nanoTime()}"
    val builds = new AtomicInteger
    def leaf() = Caches.memo(spark, dir, "leaf") { builds.incrementAndGet(); 1 }
    def mid() = Caches.memo(spark, dir, "mid") { builds.incrementAndGet(); leaf() + 1 }
    def top() = Caches.memo(spark, dir, "top") { builds.incrementAndGet(); mid() + leaf() }
    implicit val ec: ExecutionContext = ExecutionContext.global
    val served = Await.result(Future.sequence(Seq.fill(4)(Future(top()))), 1.minute)
    assert(served === Seq.fill(4)(3))
    assert(top() === 3 && mid() === 2 && leaf() === 1)
    assert(builds.get === 3)
    assert(Caches.release(spark, dir) === 3)
  }

  test("a failed build is not memoized, and a build that needs itself fails fast") {
    val dir = s"memo-failed-${System.nanoTime()}"
    intercept[IllegalArgumentException](
      Caches.memo[Int](spark, dir, "x")(throw new IllegalArgumentException("boom")))
    assert(Caches.memo(spark, dir, "x")(7) === 7)
    def self(): Int = Caches.memo(spark, dir, "self")(self() + 1)
    intercept[IllegalStateException](self())
    Caches.release(spark, dir)
  }

  test("each session gets its own entry; release drops both sessions' entries") {
    val dir = s"memo-sessions-${System.nanoTime()}"
    val other = spark.newSession()
    val mine = Caches.memo(spark, dir, "frame")(spark.range(3).toDF())
    val theirs = Caches.memo(other, dir, "frame")(other.range(3).toDF())
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(Caches.memo[DataFrame](spark, dir, "frame")(fail("served again")) eq mine)
    assert(Caches.memo[DataFrame](other, dir, "frame")(fail("served again")) eq theirs)
    assert(Caches.release(spark, dir) === 2)
    var rebuilt = 0
    Caches.memo(other, dir, "frame") { rebuilt += 1; other.range(1).toDF() }
    Caches.memo(spark, dir, "frame") { rebuilt += 1; spark.range(1).toDF() }
    assert(rebuilt === 2)
    Caches.release(spark, dir)
  }

  test("a landing whose directory or table is gone is rebuilt on the next serve") {
    val dir = s"landing-${System.nanoTime()}"
    var writes = 0
    def serve() = Caches.landed(spark, dir, "cachespec", "t") { l =>
      writes += 1
      spark.range(5).write.mode("overwrite").format("parquet")
        .option("path", l.path).saveAsTable(l.tables.head)
      (l.path, l.tables.head)
    }
    val (path, table) = serve()
    assert(serve() === ((path, table)) && writes === 1)

    rmTree(new java.io.File(path)) // deleted outside the program
    assert(serve() === ((path, table)) && writes === 2)
    assert(new java.io.File(path).isDirectory)

    spark.sql(s"DROP TABLE $table")
    assert(serve() === ((path, table)) && writes === 3)
    assert(spark.table(table).count() === 5)

    Caches.release(spark, dir, blocking = true)
    assert(!new java.io.File(path).exists() && !spark.catalog.tableExists(table))
  }
}
