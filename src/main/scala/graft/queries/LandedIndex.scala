package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One landed token index: the build / append / serve / compact
  * algebra the band (d24, e20, e24, e26), gram (d26, e22, e23, e25) and
  * winnow (d34, e27, e28, e29) families share. Rows are a BIGINT `key`
  * (the serve join's equi-key), a `doc_id` and the family's payload
  * columns. A family supplies only its featurized rows, its admission
  * predicate and its serve join.
  *
  * Layout: every table lands through [[Caches.landed]] bucketed by
  * `key` (32 buckets, bucket-sorted), repartitioned by the same murmur3
  * hash first so each bucket is one file (see s18). A serve join on
  * `key` then reads the landed side bucket-locally and only the probe
  * side shuffles — which is why [[sides]] returns each side as its own
  * probe target: a union BEFORE the join would drop the base table's
  * bucketing and re-shuffle the whole index per batch.
  *
  * The df cap (`cap`, None = uncapped): [[build]] keeps only keys with
  * document frequency ≤ cap and lands the rest in a `hot` sidecar — the
  * capped table cannot tell a hot key from an absent one, but an append
  * must. [[append]] resolves cap-then-tombstone from index files alone,
  * never corpus text, because df only grows under append:
  *  1. base-hot keys stay hot: delta rows carrying them drop;
  *  2. keys whose combined df (base rows + delta rows) stays ≤ cap land
  *     in the delta;
  *  3. keys the delta pushes past the cap land nowhere, and those the
  *     base holds emit a `tomb` row, anti-joined from the base at serve
  *     time (broadcast: bounded by the delta's key vocabulary).
  * Base files are never rewritten; [[compact]] folds
  * (base ∖ tomb) ∪ delta into one table with the same bucket spec.
  * Forgetting documents is cap-then-delete: the cap is a build-time
  * property, so a key the build dropped as hot is not re-admitted when
  * deletes lower its df — that waits for a rebuild from text.
  */
private[graft] final case class LandedIndex(key: String, cap: Option[Long]) {
  import LandedIndex.Part

  /** Land the featurized corpus `rows` as table `part` of landing
    * `name`; with a cap, the keys above it go to the `hot` sidecar
    * instead. */
  def build(s: SparkSession, dir: String, name: String, part: String)(
      rows: => DataFrame): Part =
    Caches.landed(s, dir, name, part) { l =>
      val Seq(tbl) = l.tables
      val r = rows
      // checkpoint: the hot set feeds the anti-join AND the sidecar
      val hot = cap.map(c => Caches.checkpointed(dir, r.groupBy(key)
        .agg(count(lit(1)).as("c")).filter(col("c") > c).select(key)))
      val hotPath = hot.map { h =>
        val path = l.sidecar("hot")
        h.write.mode("overwrite").parquet(path)
        path
      }
      land(hot.fold(r)(withoutHot(r, _)), l.path, tbl)
      Part(tbl, hotPath)
    }

  /** The build's cap join, UN-HINTED: the hot set is every key with
    * df > cap over the corpus — O(corpus rows / cap), Zipf-tailed and
    * data-dependent, so on a boilerplate-heavy crawl it can outgrow the
    * broadcast limit. Left un-hinted, the planner picks a shuffle join
    * when it must. */
  def withoutHot(rows: DataFrame, hot: DataFrame): DataFrame =
    rows.join(hot, Seq(key), "left_anti").select(rows.columns.map(col): _*)

  /** Land the admitted delta `rows` next to `base` as table `delta` of
    * landing `name`. With a cap, the keys the delta pushes past it go
    * to the `tomb` sidecar (see the class doc). */
  def append(s: SparkSession, dir: String, name: String, base: => Part)(
      rows: => DataFrame): Part =
    Caches.landed(s, dir, name, "delta") { l =>
      val Seq(tbl) = l.tables
      val tomb = cap match {
        case None =>
          land(rows, l.path, tbl)
          None
        case Some(c) =>
          val Part(baseTbl, Some(hotPath)) = base
          val tombPath = l.sidecar("tomb")
          // checkpoint: the delta feeds the df count AND the landing
          val delta = Caches.checkpointed(dir, rows)
          val combined = delta.groupBy(key).agg(count(lit(1)).as("cd"))
            .join(s.table(baseTbl).groupBy(key).agg(count(lit(1)).as("cb")), Seq(key), "left")
            .select(col(key), (coalesce(col("cb"), lit(0L)) + col("cd")).as("ct"), col("cb"))
          val over = combined.filter(col("ct") > c)
          over.filter(col("cb").isNotNull).select(key)
            .write.mode("overwrite").parquet(tombPath)
          land(delta.join(over.select(key), Seq(key), "left_anti")
            .join(keys(s, hotPath), Seq(key), "left_anti")
            .select(delta.columns.map(col): _*), l.path, tbl)
          Some(tombPath)
      }
      Part(tbl, tomb)
    }

  /** The serve sides: `base ∖ tomb ∖ deleted`, then the delta (also
    * `∖ deleted`) when there is one. Probe each side separately (see
    * the class doc on layout). `deleted` holds `doc_id`s. */
  def sides(s: SparkSession, base: String, delta: Option[Part] = None,
      deleted: Option[DataFrame] = None): Seq[DataFrame] = {
    val live = delta.flatMap(_.sidecar).foldLeft(s.table(base))((b, tomb) =>
      b.join(broadcast(keys(s, tomb)), Seq(key), "left_anti"))
    (live +: delta.map(d => s.table(d.table)).toSeq).map(side =>
      deleted.fold(side)(d => side.join(broadcast(d), Seq("doc_id"), "left_anti")))
  }

  /** Fold `(base ∖ tomb) ∪ delta` into table `idx` of landing `name`,
    * from index files only. */
  def compact(s: SparkSession, dir: String, name: String)(
      base: => String, delta: => Part): String =
    Caches.landed(s, dir, name, "idx") { l =>
      val Seq(tbl) = l.tables
      land(sides(s, base, Some(delta)).reduce(_ unionByName _), l.path, tbl)
      tbl
    }

  /** A sidecar's key set. */
  private def keys(s: SparkSession, path: String): DataFrame =
    s.read.schema(s"$key BIGINT").parquet(path)

  private def land(rows: DataFrame, path: String, tbl: String): Unit =
    rows.repartition(32, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(32, key).sortBy(key)
      .option("path", path)
      .saveAsTable(tbl)
}

object LandedIndex {

  /** A landed table and its sidecar: `hot` for a built base, `tomb`
    * for a capped delta, None when uncapped. */
  final case class Part(table: String, sidecar: Option[String])
}
