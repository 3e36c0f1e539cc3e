package graft.operators

import graft.plans.PartialBestSimilarityJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** The reference's fuzzy-name matching (J2 per-item probe / J5 batch,
  * /root/reference/main.py:2804-2924, 4612-4705) as a blocked similarity
  * join: candidates × base names scored with difflib-parity
  * Ratcliff–Obershelp ratio, best match per candidate above a threshold.
  *
  * Scale design (the reference is an O(n·m) Python loop — SURVEY.md §4.1):
  *
  *  1. '''Broadcast the small side, decided here.''' The candidate pool
  *     (unmatched new items) is orders of magnitude smaller than the
  *     base. [[bestMatch]], the one caller, tests the pool against
  *     `spark.sql.autoBroadcastJoinThreshold` and, when it fits, builds
  *     the native [[graft.plans.PartialBestSimilarityJoin]] itself: a
  *     map-side pass over the base with no shuffle of the big side. A
  *     larger pool must not be collected on the driver, so it runs as a
  *     nested-loop cross join instead.
  *  2. '''Upper-bound cascade.''' Scoring runs difflib's real_quick_ratio →
  *     quick_ratio → ratio escalation, skipping the quadratic match
  *     search for pairs that cannot reach the bar; the native node raises
  *     that bar to each candidate's incumbent similarity.
  *  3. '''Lossless length-band blocking.''' ratio(a,b) ≤ 2·min(|a|,|b|) /
  *     (|a|+|b|) (real_quick_ratio), so on the nested-loop path a pure
  *     Column predicate prunes the pairs whose lengths alone cap the
  *     ratio below the threshold before the similarity runs. Equality
  *     with the exact cross join is provable, not sampled.
  *
  * At 100 TB the same plan holds: the candidate set after the
  * article/code stages is small by construction; were it not, swap the
  * cross join for LSH bucketing (see graft.queries.DedupQueries) at the
  * cost of exactness.
  */
object FuzzyJoin {

  /** Best fuzzy match per candidate: returns `cands`' columns plus
    * `<prefix>_key`, `<prefix>_name`, `<prefix>_sim` of the best base row
    * with sim ≥ threshold (left semantics: candidates without a match
    * keep nulls). `candKey` must be unique per candidate row (it anchors
    * the argmax and the join-back). Deterministic tie-break:
    * highest sim, then smallest base key — the reference's
    * first-in-file-order argmax (main.py:2877-2903).
    *
    * `baseKey` MUST be numeric: the smallest-key tie-break rides the
    * max-struct aggregate as the NEGATED key, and negating a string key
    * would cast to null (non-ANSI) or error (ANSI) — silently flipping
    * the documented ordering. Enforced eagerly below. */
  def bestMatch(
      cands: DataFrame, candKey: Column, candName: Column,
      base: DataFrame, baseKey: Column, baseName: Column,
      threshold: Double, prefix: String = "match"): DataFrame = {
    val keyType = base.select(baseKey).schema.head.dataType
    require(keyType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"FuzzyJoin.bestMatch: baseKey must be numeric for the negated-key " +
        s"smallest-key tie-break (got $keyType)")
    val c = cands.withColumn("_cand_name", candName)
      .withColumn("_cand_lc", lower(candName))
      .withColumn("_cand_len", nullif(length(lower(candName)), lit(0)))
      .withColumn("_cand_id", candKey)
    // The base side arrives as a handful of scan partitions; after the
    // broadcast join it would run on those few threads. Repartition to
    // the session's shuffle width so the O(cands·base) scoring spreads
    // across all cores — a shuffle of the SMALL dimension table only.
    val width = base.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val b = base.select(
      baseKey.as(s"${prefix}_key"),
      baseName.as(s"${prefix}_name"),
      lower(baseName).as("_base_lc"),
      nullif(length(lower(baseName)), lit(0)).as("_base_len"))
      .repartition(width)
    // Lossless band: 2·min(la,lb)/(la+lb) ≥ t  (null lengths drop — a
    // null or empty name can never reach a positive threshold anyway,
    // and two empty names would divide by zero).
    val band = lit(2.0) * least(col("_cand_len"), col("_base_len")) /
      (col("_cand_len") + col("_base_len")) >= lit(threshold)
    // Score with only the 3 columns the scorer needs: every surviving
    // band pair materializes a joined row, so carrying the full candidate
    // row through the O(cands·base) join would copy all its columns per
    // pair; the wide columns re-attach in the final join-back below.
    val cSlim = c.select(col("_cand_id"), col("_cand_lc"), col("_cand_len"))
    // The path test reads the pool's optimized size estimate: a cache
    // reports its real size only once built, before that the estimate of
    // the plan it caches (so SyncPlan.fuzzy builds its pool first). Both
    // paths return exact ratios at or above the threshold and feed the
    // same argmax (MatchSpec pins them row for row).
    val simCol = expr("graft_similarity(_cand_lc, _base_lc)")
    val spark = cands.sparkSession
    val cap = spark.sessionState.conf.autoBroadcastJoinThreshold
    val pairs =
      if (cap > 0 && cSlim.queryExecution.optimizedPlan.stats.sizeInBytes <= cap) {
        val (l, r) = (cSlim.queryExecution.analyzed, b.queryExecution.analyzed)
        def attr(p: LogicalPlan, name: String) = p.output.find(_.name == name).get
        ColumnBridge.frame(spark, PartialBestSimilarityJoin(l, r,
          attr(l, "_cand_lc"), attr(r, "_base_lc"), threshold,
          attr(r, s"${prefix}_key"), attr(r, s"${prefix}_name")))
      } else cSlim.crossJoin(b).where(band && simCol >= lit(threshold))
    // Argmax as a PARTIAL-AGGREGATING max over a lexicographic struct
    // (sim desc, then smallest base key via the negated key), NOT a
    // row_number window: the window formulation shuffles and sorts
    // EVERY surviving pair (O(cands·base) rows through an exchange);
    // the hash aggregate folds pairs map-side into one row per
    // candidate inside the join's own stage, so the only exchange is
    // |cands| × partitions combiner rows (the native node hands it at
    // most one pair per candidate and partition). `simCol` re-evaluates
    // per surviving pair (memoized against the join filter's
    // computation, see Similarity.ratio), and ties on (sim, key) can
    // only differ in `name`, where max picks deterministically.
    val best = pairs.groupBy("_cand_id").agg(max(struct(
        simCol.as("s"), (-col(s"${prefix}_key")).as("nk"),
        col(s"${prefix}_key").as("k"), col(s"${prefix}_name").as("n"))).as("_b"))
      .select(col("_cand_id").as("_best_id"),
        col("_b.k").as(s"${prefix}_key"), col("_b.n").as(s"${prefix}_name"),
        round(col("_b.s"), 4).as(s"${prefix}_sim"))
    c.join(best, col("_cand_id") === col("_best_id"), "left")
      .drop("_cand_id", "_best_id", "_cand_name", "_cand_lc", "_cand_len")
  }
}
