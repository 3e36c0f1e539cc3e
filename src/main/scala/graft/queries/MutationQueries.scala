package graft.queries

/** The reference's base-mutation surface (SURVEY.md §2.1 S6–S9, §3 E3)
  * re-architected for an append-only engine: in-place Excel cell edits
  * become derive-updates → join-rewrite → write-new-version, and row
  * insertion becomes an anchor-ordered union with auto-numbering. Audit
  * datasets (price_updates_log / changes_log) are first-class outputs.
  *
  * The mutations live in [[SyncPlan]] (see its scale notes); each query
  * here reads one of its frames from a fresh [[Fixture.plan]], whose two
  * inputs are read once per (session, dir). S6, A10, S7 and S5 filter or
  * aggregate its cached full-outer article join, so none of them joins
  * (one shuffle per side at scale, shared by all four); S8 reads the
  * cached new-item pool. `Caches.release(s, dir)` drops the inputs and
  * the four cached frames.
  */
object MutationQueries {

  val queries: Map[String, QueryFn] = Map(
    // ---- S6: price-cell update as a join-rewrite (full new base
    // version; cells outside tolerance untouched) ----
    "s6_price_rewrite" -> ((s, dir) => Fixture.plan(s, dir).priceRewrite),

    // ---- A10: update counters (audit aggregate of S6) ----
    "a10_update_counters" -> ((s, dir) => Fixture.plan(s, dir).counters),

    // ---- S7 + J8: article-cell fill with existing-value guard ----
    "s7_article_fill" -> ((s, dir) => Fixture.plan(s, dir).articleFill),

    // ---- O3: insertion-order plan — new items sorted by anchor row,
    // positions assigned (main.py:6196-6210) ----
    "o3_insert_order" -> ((s, dir) => Fixture.plan(s, dir).insertOrder),

    // ---- S8 + U3 + A2: row insertion — new rows auto-numbered from
    // max(article)+1 in anchor order, merged into the base "file" ----
    "s8_insert_rows" -> ((s, dir) => Fixture.plan(s, dir).insertRows),

    // ---- S5: multi-sheet report bundle — one summary row per sheet
    // (each sheet itself is one of the named queries/sinks) ----
    "s5_report_summary" -> ((s, dir) => Fixture.plan(s, dir).summary)
  )

  private def cteBase =
    s"WITH sup AS (${Fixture.supplierSideSql}), base AS (${Fixture.baseSideSql})"

  val oracle: Map[String, String] = Map(
    "s6_price_rewrite" ->
      s"""$cteBase
         |SELECT b.article, b.base_price AS old_price,
         | CASE WHEN s.supplier_price IS NOT NULL
         |       AND abs(s.supplier_price - b.base_price) >= 0.001
         |      THEN s.supplier_price ELSE b.base_price END AS new_price,
         | (s.supplier_price IS NOT NULL
         |  AND abs(s.supplier_price - b.base_price) >= 0.001) AS updated
         |FROM base b LEFT JOIN sup s USING (article)
         |ORDER BY article""".stripMargin,

    "a10_update_counters" ->
      s"""$cteBase
         |SELECT count(*) AS base_total,
         | count(CASE WHEN s.supplier_price IS NOT NULL
         |        AND abs(s.supplier_price - b.base_price) >= 0.001 THEN 1 END) AS updated,
         | count(CASE WHEN s.supplier_price IS NOT NULL
         |        AND abs(s.supplier_price - b.base_price) < 0.001 THEN 1 END) AS skipped_tolerance,
         | count(CASE WHEN s.supplier_price IS NULL THEN 1 END) AS not_found
         |FROM base b LEFT JOIN sup s USING (article)""".stripMargin,

    "s7_article_fill" ->
      s"""$cteBase
         |SELECT b.article,
         | CASE WHEN b.article % 4 = 0 THEN b.article * 10 END AS existing_vitya,
         | s.article * 10 + 1 AS proposed_vitya,
         | CASE WHEN (CASE WHEN b.article % 4 = 0 THEN b.article * 10 END) IS NULL
         |      THEN 'article_added' ELSE 'article_skipped' END AS action,
         | COALESCE(CASE WHEN b.article % 4 = 0 THEN b.article * 10 END,
         |          s.article * 10 + 1) AS final_vitya
         |FROM base b JOIN sup s USING (article)
         |ORDER BY article""".stripMargin,

    "o3_insert_order" ->
      s"""$cteBase,
         | new_items AS (SELECT s.* FROM sup s
         |   WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.article = s.article))
         |SELECT row_number() OVER (ORDER BY article % 1000, article) AS insert_pos,
         | article % 1000 AS anchor, article, supplier_price
         |FROM new_items ORDER BY insert_pos""".stripMargin,

    "s8_insert_rows" ->
      s"""$cteBase,
         | new_items AS (SELECT s.* FROM sup s
         |   WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.article = s.article)),
         | inserted AS (SELECT article % 1000 AS sort_main, 1 AS sort_sub,
         |     (SELECT max(article) FROM base) +
         |       row_number() OVER (ORDER BY article % 1000, article) AS article,
         |     supplier_price AS price, TRUE AS is_new
         |   FROM new_items),
         | existing AS (SELECT article AS sort_main, 0 AS sort_sub, article,
         |     base_price AS price, FALSE AS is_new FROM base)
         |SELECT * FROM (SELECT * FROM existing UNION ALL SELECT * FROM inserted)
         |ORDER BY sort_main, sort_sub, article""".stripMargin,

    "s5_report_summary" ->
      s"""$cteBase,
         | joined AS (SELECT s.article, s.supplier_price, b.base_price
         |   FROM sup s LEFT JOIN base b USING (article)),
         | m AS (SELECT * FROM joined WHERE base_price IS NOT NULL)
         |SELECT * FROM (
         | SELECT 'matches' AS sheet, count(*) AS n_rows FROM m
         | UNION ALL SELECT 'price_changes', count(*) FROM m
         |   WHERE base_price > 0
         |     AND abs((supplier_price - base_price) / base_price * 100) > 5
         | UNION ALL SELECT 'new_items', count(*) FROM joined WHERE base_price IS NULL
         | UNION ALL SELECT 'warnings', count(*) FROM m
         |   WHERE base_price > 0
         |     AND abs((supplier_price - base_price) / base_price * 100) > 20)
         |ORDER BY sheet""".stripMargin
  )
}
