package graft.queries

import graft.functions.Cleaning
import graft.operators.{FuzzyJoin, GlobalOrder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The paper's sync dataflow over one supplier price list and one master
  * base (SURVEY.md §2.4, §3 E2/E3): the four-stage match cascade —
  * article → bracket code (J3) → unified code (J4) → new item, with fuzzy
  * name probing (J2/J5) over the unmatched pool — then the base mutations
  * it drives: price updates (S6/A10), article-cell fill (S7), insertion
  * order and numbering (O3/S8) and the report summary (S5).
  *
  * A lazy value over two frames (only [[fuzzy]] runs a job when built);
  * it reads only columns:
  *  - `supplier`: article, supplier_price, name, color, proposed_vitya
  *    (the article cell this list would fill), anchor (the base row a new
  *    item is inserted after);
  *  - `base`: article (its key), base_price, name, color, existing_vitya
  *    (the article cell already there, null when empty).
  * Whoever builds the frames owns how those columns are derived
  * ([[Fixture.plan]] reads them once per session and dir).
  *
  * Each piece of work is done once: one article join ([[byArticle]]) and
  * one code-match window ([[codeBest]]). `keep` is applied, on first use,
  * to those two and the coded pools. [[Fixture.plan]] passes
  * `Caches.trackCached(dir, _)`: the caches are plan-keyed in Spark's
  * CacheManager, a fresh plan over the dir reads them, `Caches.release`
  * drops them. `identity` keeps nothing.
  *
  * Scale notes (100 TB):
  *  - the article lookup is one full-outer join: one shuffle per side on
  *    article, instead of broadcasting the base's keys into N joins;
  *  - the code stages join on the extracted code (broadcast-hash where
  *    the base side is small), and one window over both stages' pairs
  *    replaces the anti-join of what the bracket stage matched;
  *  - fuzzy probing, the only non-equi stage, runs on the new items only
  *    ([[graft.operators.FuzzyJoin]]); insert numbering is range-partitioned
  *    ([[graft.operators.GlobalOrder]]), never funneled through one task.
  */
final class SyncPlan(val supplier: DataFrame, val base: DataFrame,
    keep: DataFrame => DataFrame) {

  private val (inSupplier, inBase) = (col("in_supplier"), col("in_base"))

  /** Every supplier and base row, full-outer joined on article: the
    * supplier's columns, the base's (name, color as bname, bcolor) and the
    * `in_supplier`/`in_base` flags; the article-keyed outputs filter it. */
  lazy val byArticle: DataFrame = keep(
    supplier.withColumn("in_supplier", lit(true))
      .join(base.withColumnRenamed("name", "bname").withColumnRenamed("color", "bcolor")
        .withColumn("in_base", lit(true)), Seq("article"), "full_outer")
      .na.fill(false, Seq("in_supplier", "in_base")))

  /** New supplier rows (J1 miss branch) with bracket code and capacity. */
  lazy val supCoded: DataFrame = keep(byArticle.filter(inSupplier && !inBase)
    .select(supplier.columns.map(col): _*)
    .withColumn("code", Cleaning.bracketCode(col("name")))
    .withColumn("capacity", Cleaning.batteryCapacity(col("name"))))

  /** Unmatched pool after the article stage, read from the narrow
    * [[supCoded]] cache: S8's numbering reads it three times. */
  lazy val newItems: DataFrame = supCoded.drop("code", "capacity")

  /** Base rows with bracket code and capacity. */
  lazy val baseCoded: DataFrame = keep(byArticle.filter(inBase)
    .select(col("article").as("base_article"), col("base_price"), col("bname"), col("bcolor"))
    .withColumn("bcode", Cleaning.bracketCode(col("bname")))
    .withColumn("bcapacity", Cleaning.batteryCapacity(col("bname"))))

  /** J3 + J4 — per new item, its best base variant over the bracket-code
    * (J3) and unified-code (J4) pairs at once, ranked by stage ("bracket"
    * sorts first), score desc, then the smallest base key (the reference's
    * first-variant-wins fallback): an item with any bracket candidate
    * takes its best one, only the others reach J4. Null codes never match. */
  lazy val codeBest: DataFrame = {
    val sup = supCoded.withColumn("ucode", Cleaning.unifiedCodeExpr(col("name")))
    val b = baseCoded.withColumn("bucode", Cleaning.unifiedCodeExpr(col("bname")))
    def pairs(stage: String, code: String, bcode: String) =
      sup.join(b, col(code) === col(bcode)).select(col("article"), lit(stage).as("found_by"),
        col(code).as("code"), col("base_article"), SyncPlan.variantScore.as("score"))
    val w = Window.partitionBy("article")
      .orderBy(col("found_by"), col("score").desc, col("base_article").asc)
    keep(pairs("bracket", "code", "bcode").unionByName(pairs("unified", "ucode", "bucode"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn"))
  }

  /** J3 — bracket-code stage over the unmatched pool. */
  lazy val bracketBest: DataFrame = codeBest.filter(col("found_by") === "bracket").drop("found_by")

  /** J4 — unified-code stage over what the bracket stage left. */
  lazy val unifiedBest: DataFrame = codeBest.filter(col("found_by") === "unified").drop("found_by")

  /** E2 — per supplier article, the stage that matched it (article /
    * bracket / unified) or 'new'. */
  lazy val cascade: DataFrame =
    byArticle.filter(inSupplier).select("article", "in_base")
      .join(codeBest, Seq("article"), "left")
      .select(col("article"),
        when(inBase, lit("article")).otherwise(coalesce(col("found_by"), lit("new"))).as("found_by"),
        when(inBase, col("article")).otherwise(col("base_article")).as("base_article"))
      .orderBy("article")

  /** J2 — best fuzzy base name per new item (null when none reaches
    * 0.33), unordered. The native similarity join collects the new items
    * only if their size estimate fits the broadcast threshold; an unbuilt
    * cache is estimated as byArticle's join, the product of its sides, so
    * [[supCoded]] is built first, at construct time. */
  lazy val fuzzy: DataFrame = {
    supCoded.queryExecution.toRdd.count()
    FuzzyJoin.bestMatch(supCoded.select("article", "name"), col("article"), col("name"),
        baseCoded.select("base_article", "bname"), col("base_article"), col("bname"), 0.33, "fuzzy")
      .select(col("article"), col("name"), col("fuzzy_key").as("fuzzy_base_article"),
        col("fuzzy_name"), col("fuzzy_sim"))
  }

  /** J6 — every base row with its supplier price (null when the list lacks
    * it) and the |Δ| ≥ 0.001 update gate (main.py:7199), unordered. */
  lazy val priceUpdates: DataFrame =
    byArticle.filter(inBase).select(col("article"), col("base_price"), col("supplier_price"),
      (col("supplier_price").isNotNull &&
        abs(col("supplier_price") - col("base_price")) >= 0.001).as("updated"))

  /** S6 — the price column rewritten: the supplier price where the gate
    * passes, the base price elsewhere. */
  lazy val priceRewrite: DataFrame =
    priceUpdates.select(col("article"), col("base_price").as("old_price"),
        when(col("updated"), col("supplier_price")).otherwise(col("base_price")).as("new_price"),
        col("updated"))
      .orderBy("article")

  /** A10 — update counters over the price updates. */
  lazy val counters: DataFrame = priceUpdates.agg(
    count(lit(1)).as("base_total"),
    count(when(col("updated"), 1)).as("updated"),
    count(when(col("supplier_price").isNotNull &&
      abs(col("supplier_price") - col("base_price")) < 0.001, 1)).as("skipped_tolerance"),
    count(when(col("supplier_price").isNull, 1)).as("not_found"))

  /** S7 + J8 — article-cell fill with the existing-value guard
    * (main.py:5961-6051): an occupied cell is kept, an empty one takes
    * the proposed value. */
  lazy val articleFill: DataFrame =
    byArticle.filter(inSupplier && inBase).select(
        col("article"), col("existing_vitya"), col("proposed_vitya"),
        when(col("existing_vitya").isNull, lit("article_added"))
          .otherwise(lit("article_skipped")).as("action"),
        coalesce(col("existing_vitya"), col("proposed_vitya")).as("final_vitya"))
      .orderBy("article")

  /** New items numbered 1..N in (anchor, article) order, unordered. */
  private lazy val positioned: DataFrame =
    GlobalOrder.withPosition(newItems, "insert_pos", col("anchor"), col("article"))

  /** O3 — insertion-order plan (main.py:6196-6210). */
  lazy val insertOrder: DataFrame =
    positioned.select("insert_pos", "anchor", "article", "supplier_price").orderBy("insert_pos")

  /** S8 + U3 + A2 — new rows auto-numbered from max(article)+1 in anchor
    * order, merged into the base "file". */
  lazy val insertRows: DataFrame = {
    val baseRows = byArticle.filter(inBase)
    // max(article) joins in as a broadcast scalar — keeps the plan lazy
    // (no driver-side collect) and the big side un-shuffled.
    val maxArt = baseRows.agg(max("article").as("max_article"))
    val inserted = positioned.crossJoin(broadcast(maxArt)).select(
      col("anchor").as("sort_main"), lit(1).as("sort_sub"),
      (col("max_article") + col("insert_pos")).as("article"),
      col("supplier_price").as("price"), lit(true).as("is_new"))
    val existing = baseRows.select(
      col("article").as("sort_main"), lit(0).as("sort_sub"),
      col("article"), col("base_price").as("price"), lit(false).as("is_new"))
    existing.unionByName(inserted).orderBy("sort_main", "sort_sub", "article")
  }

  /** S5 — one summary row per report sheet, counted in one conditional
    * aggregate over the supplier rows of the article join. */
  lazy val summary: DataFrame = {
    val bp = col("base_price")
    // priceChangePct guards the division (0 unless base_price > 0): the
    // two thresholds share the percentage as one subexpression, which
    // Spark evaluates unconditionally, outside any `base_price > 0 &&`
    def moved(pct: Int) = abs(Cleaning.priceChangePct(col("supplier_price"), bp)) > pct
    byArticle.filter(inSupplier).agg(
        count(when(bp.isNotNull, 1)).as("matches"),
        count(when(moved(5), 1)).as("price_changes"),
        count(when(bp.isNull, 1)).as("new_items"),
        count(when(moved(20), 1)).as("warnings"))
      .select(expr("stack(4, 'matches', matches, 'price_changes', price_changes, " +
        "'new_items', new_items, 'warnings', warnings) AS (sheet, n_rows)"))
      .orderBy("sheet")
  }
}

object SyncPlan {

  /** Reference variant priority: color∧capacity(3) > color(2) >
    * capacity(1) > first-in-file(0) (main.py:2693-2751). */
  private[graft] def variantScore =
    when(Cleaning.safeColor(col("color")) === Cleaning.safeColor(col("bcolor")) &&
      col("capacity") === col("bcapacity"), 3)
      .when(Cleaning.safeColor(col("color")) === Cleaning.safeColor(col("bcolor")), 2)
      .when(col("capacity") === col("bcapacity"), 1)
      .otherwise(0)
}
