package graft

import graft.queries.{Caches, LandedIndex}
import graft.queries.LandedIndex.Part
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** [[LandedIndex]]'s algebra on hand-made (doc_id, pos, k) frames with
  * a df cap of 2. */
class LandedIndexSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val capped = LandedIndex("k", Some(2L))

  private def rows(rs: (Long, Int, Long)*): DataFrame = rs.toDF("doc_id", "pos", "k")

  private def collect(df: DataFrame): Seq[(Long, Int, Long)] =
    df.select("doc_id", "pos", "k").as[(Long, Int, Long)].collect().toSeq.sorted

  private def keys(path: String): Set[Long] =
    spark.read.schema("k BIGINT").parquet(path).as[Long].collect().toSet

  /** A fresh fixture-dir key per test, released afterwards. */
  private def withDir(body: String => Unit): Unit = {
    val dir = s"landed-index-${System.nanoTime()}"
    try body(dir) finally Caches.release(spark, dir, blocking = true)
  }

  // corpus: k=1 at exactly the cap, k=2 above it, k=3 and k=4 below
  private val corpus = Seq((1L, 0, 1L), (2L, 0, 1L), (1L, 1, 2L), (2L, 1, 2L),
    (3L, 1, 2L), (3L, 2, 3L), (4L, 0, 4L))

  private def buildBase(dir: String): Part =
    capped.build(spark, dir, "base", "idx")(rows(corpus: _*))

  // delta: k=2 is base-hot; k=3 is pushed to df 3; k=4 reaches the cap;
  // k=5 is new and cold; k=6 is new and above the cap on its own
  private val deltaRows = Seq((10L, 0, 2L), (10L, 1, 3L), (11L, 1, 3L),
    (10L, 2, 4L), (11L, 2, 5L), (10L, 3, 6L), (11L, 3, 6L), (12L, 3, 6L))

  private def appendDelta(dir: String): Part =
    capped.append(spark, dir, "delta", buildBase(dir))(rows(deltaRows: _*))

  test("build: a key at the cap lands, a key above it goes only to hot") {
    withDir { dir =>
      val base = buildBase(dir)
      assert(collect(spark.table(base.table)) ===
        corpus.filter(_._3 != 2L).sorted)
      assert(base.sidecar.map(keys) === Some(Set(2L)))
    }
  }

  test("append: base-hot rows drop, a key pushed past the cap tombstones, the rest land") {
    withDir { dir =>
      val delta = appendDelta(dir)
      assert(collect(spark.table(delta.table)) === Seq((10L, 2, 4L), (11L, 2, 5L)))
      // k=6 is above the cap too but has no base rows to excise
      assert(delta.sidecar.map(keys) === Some(Set(3L)))
    }
  }

  test("sides with deleted: a removed doc neither probes nor serves") {
    withDir { dir =>
      val base = buildBase(dir)
      val delta = appendDelta(dir)
      val sides = capped.sides(spark, base.table, Some(delta),
        deleted = Some(Seq(1L, 10L).toDF("doc_id")))
      assert(sides.size === 2)
      val Seq(baseSide, deltaSide) = sides.map(collect)
      // doc 1 left the base, doc 10 the delta; k=3 is tombstoned
      assert(baseSide === Seq((2L, 0, 1L), (4L, 0, 4L)))
      assert(deltaSide === Seq((11L, 2, 5L)))
      val probe = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("k")
      val served = sides.flatMap(s => collect(probe.join(s, "k")))
      assert(!served.exists(r => r._1 == 1L || r._1 == 10L), served)
    }
  }

  test("compact equals (base ∖ tomb) ∪ delta row for row, bucketed like its inputs") {
    withDir { dir =>
      val base = buildBase(dir)
      val delta = appendDelta(dir)
      val lambda = capped.sides(spark, base.table, Some(delta)).flatMap(collect).sorted
      val compacted = capped.compact(spark, dir, "compact")(base.table, delta)
      assert(collect(spark.table(compacted)) === lambda)
      assert(lambda === Seq((1L, 0, 1L), (2L, 0, 1L), (4L, 0, 4L), (10L, 2, 4L), (11L, 2, 5L)))
      for (t <- Seq(base.table, delta.table, compacted)) {
        val spec = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).bucketSpec
        assert(spec.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames)) ===
          Some((32, Seq("k"), Seq("k"))), t)
      }
    }
  }

  test("cap = None writes no sidecar and no tombstone") {
    withDir { dir =>
      val uncapped = LandedIndex("k", None)
      val base = uncapped.build(spark, dir, "base", "idx")(rows(corpus: _*))
      val delta = uncapped.append(spark, dir, "delta", base)(rows(deltaRows: _*))
      assert(base.sidecar === None && delta.sidecar === None)
      for (stem <- Seq("base_hot", "delta_tomb"))
        assert(!new java.io.File(Caches.landingPath(dir, stem)).exists(), stem)
      assert(collect(spark.table(base.table)) === corpus.sorted)
      assert(collect(spark.table(delta.table)) === deltaRows.sorted)
      assert(uncapped.sides(spark, base.table, Some(delta)).flatMap(collect).sorted ===
        (corpus ++ deltaRows).sorted)
    }
  }
}
