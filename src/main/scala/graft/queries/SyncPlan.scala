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
  * A lazy value over two frames; it reads only columns:
  *  - `supplier`: article, supplier_price, name, color, proposed_vitya
  *    (the article cell this list would fill), anchor (the base row a new
  *    item is inserted after);
  *  - `base`: article, base_price, name, color, existing_vitya (the
  *    article cell already there, null when empty).
  * Whoever builds the frames owns how those columns are derived
  * ([[Fixture.plan]] constructs them from key arithmetic).
  *
  * Lifetime: `keep` is applied, on first use, to the frames several
  * outputs reuse — the two inputs, the coded pools and the two code-stage
  * results (e2 reads each code stage twice). [[Fixture.plan]] passes
  * `Caches.trackCached(dir, _)`, so the caches are plan-keyed in Spark's
  * CacheManager: a fresh plan over the same dir reads them, and
  * `Caches.release` drops them. `identity` keeps nothing.
  *
  * Scale notes (100 TB):
  *  - every stage joins on a key (article / extracted code), so the big
  *    side shuffles at most once per stage and Catalyst picks
  *    broadcast-hash where the dimension side is small;
  *  - the cascade's "remove what earlier stages matched" is left_anti on
  *    the same key — no extra shuffle beyond the stage join;
  *  - fuzzy probing is the only non-equi stage and runs AFTER the pool
  *    has been shrunk by the code stages; see
  *    [[graft.operators.FuzzyJoin]] for the lossless-blocking design;
  *  - the price rewrite is one join keyed on the base's own key, and
  *    insert numbering is range-partitioned ([[graft.operators.GlobalOrder]]),
  *    so neither funnels the big side through one task.
  */
final class SyncPlan(supplierIn: DataFrame, baseIn: DataFrame,
    keep: DataFrame => DataFrame) {

  lazy val supplier: DataFrame = keep(supplierIn)
  lazy val base: DataFrame = keep(baseIn)

  /** Unmatched pool after the article stage (J1 miss branch). */
  lazy val newItems: DataFrame =
    supplier.join(broadcast(base.select("article")), Seq("article"), "left_anti")

  /** New supplier rows with bracket code and capacity (the inputs of the
    * code-matching stages). */
  lazy val supCoded: DataFrame = keep(newItems
    .withColumn("code", Cleaning.bracketCode(col("name")))
    .withColumn("capacity", Cleaning.batteryCapacity(col("name"))))

  /** Base rows with bracket code and capacity. */
  lazy val baseCoded: DataFrame = keep(base
    .select(col("article").as("base_article"), col("base_price"),
      col("name").as("bname"), col("color").as("bcolor"))
    .withColumn("bcode", Cleaning.bracketCode(col("bname")))
    .withColumn("bcapacity", Cleaning.batteryCapacity(col("bname"))))

  /** J3 — bracket-code stage over the unmatched pool. */
  lazy val bracketBest: DataFrame =
    keep(SyncPlan.bestPerArticle(supCoded.join(baseCoded, col("code") === col("bcode")), "code"))

  /** J4 — unified-code stage over what the bracket stage left. */
  lazy val unifiedBest: DataFrame = {
    val rest = supCoded.join(bracketBest.select("article"), Seq("article"), "left_anti")
    val sup = rest.withColumn("ucode", Cleaning.unifiedCodeExpr(col("name")))
      .filter(col("ucode").isNotNull)
    val b = baseCoded.withColumn("bucode", Cleaning.unifiedCodeExpr(col("bname")))
      .filter(col("bucode").isNotNull)
    keep(SyncPlan.bestPerArticle(sup.join(b, col("ucode") === col("bucode")), "ucode"))
  }

  /** E2 — per supplier article, the stage that matched it (article /
    * bracket / unified) or 'new'. */
  lazy val cascade: DataFrame = {
    val stage1 = supplier.join(broadcast(base.select("article")), Seq("article"), "left_semi")
      .select(col("article"), lit("article").as("found_by"), col("article").as("base_article"))
    val stage2 = bracketBest.select(col("article"), lit("bracket").as("found_by"), col("base_article"))
    val stage3 = unifiedBest.select(col("article"), lit("unified").as("found_by"), col("base_article"))
    val stage4 = newItems
      .join(bracketBest.select("article").unionByName(unifiedBest.select("article")),
        Seq("article"), "left_anti")
      .select(col("article"), lit("new").as("found_by"), lit(null).cast("long").as("base_article"))
    stage1.unionByName(stage2).unionByName(stage3).unionByName(stage4).orderBy("article")
  }

  /** J2 — best fuzzy base name per new item (null when none reaches
    * 0.33), unordered. */
  lazy val fuzzy: DataFrame =
    FuzzyJoin.bestMatch(supCoded.select("article", "name"), col("article"), col("name"),
        baseCoded.select("base_article", "bname"), col("base_article"), col("bname"), 0.33, "fuzzy")
      .select(col("article"), col("name"), col("fuzzy_key").as("fuzzy_base_article"),
        col("fuzzy_name"), col("fuzzy_sim"))

  /** J6 — every base row with its supplier price (null when the list
    * lacks it) and the |Δ| ≥ 0.001 update gate (main.py:7199),
    * unordered. */
  lazy val priceUpdates: DataFrame =
    base.join(supplier.select("article", "supplier_price"), Seq("article"), "left")
      .select(col("article"), col("base_price"), col("supplier_price"),
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
    base.select("article", "existing_vitya")
      .join(supplier.select("article", "proposed_vitya"), Seq("article"), "inner")
      .select(
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
    // max(article) joins in as a broadcast scalar — keeps the plan lazy
    // (no driver-side collect) and the big side un-shuffled.
    val maxArt = base.agg(max("article").as("max_article"))
    val inserted = positioned.crossJoin(broadcast(maxArt))
      .select(
        col("anchor").as("sort_main"), lit(1).as("sort_sub"),
        (col("max_article") + col("insert_pos")).as("article"),
        col("supplier_price").as("price"), lit(true).as("is_new"))
    val existing = base.select(
      col("article").as("sort_main"), lit(0).as("sort_sub"),
      col("article"), col("base_price").as("price"), lit(false).as("is_new"))
    existing.unionByName(inserted).orderBy("sort_main", "sort_sub", "article")
  }

  /** S5 — one summary row per report sheet, counted in one conditional
    * aggregate over the supplier-driven join. */
  lazy val summary: DataFrame = {
    val bp = col("base_price")
    // priceChangePct guards the division (0 unless base_price > 0): the
    // two thresholds share the percentage as one subexpression, which
    // Spark evaluates unconditionally, outside any `base_price > 0 &&`
    def moved(pct: Int) = abs(Cleaning.priceChangePct(col("supplier_price"), bp)) > pct
    supplier.select("article", "supplier_price")
      .join(broadcast(base.select("article", "base_price")), Seq("article"), "left")
      .agg(
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
  private def variantScore =
    when(Cleaning.safeColor(col("color")) === Cleaning.safeColor(col("bcolor")) &&
      col("capacity") === col("bcapacity"), 3)
      .when(Cleaning.safeColor(col("color")) === Cleaning.safeColor(col("bcolor")), 2)
      .when(col("capacity") === col("bcapacity"), 1)
      .otherwise(0)

  /** Best base variant per supplier article: score desc, then smallest
    * base key (the reference's first-variant-wins fallback). */
  private def bestPerArticle(pairs: DataFrame, codeCol: String): DataFrame = {
    val w = Window.partitionBy("article").orderBy(col("score").desc, col("base_article").asc)
    pairs.withColumn("score", variantScore)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("article"), col(codeCol).as("code"), col("base_article"), col("score"))
  }
}
