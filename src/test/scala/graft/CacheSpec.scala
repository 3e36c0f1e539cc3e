package graft

import graft.queries.{AnnQueries, Caches, DedupQueries, MatchQueries, PipelineQueries}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

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
    // landing dirs carry this JVM's PID — scope the check to them so
    // leftovers from other processes' runs can't flip the assertion
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    def landings() = tmp.listFiles().filter(f =>
      f.getName.startsWith(s"graft_s15_${pid}_") || f.getName.startsWith(s"graft_s16_${pid}_"))
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
}
