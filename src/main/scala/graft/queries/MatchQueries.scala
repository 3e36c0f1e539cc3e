package graft.queries

import graft.functions.Cleaning
import org.apache.spark.sql.functions._

/** The reference's matching cascade (SURVEY.md §2.4, §3 E2):
  * article match → bracket-code match (J3) → unified-code match (J4) →
  * leftovers are new items; fuzzy name probing (J2/J5) annotates the
  * unmatched pool. Variant selection inside the code stages follows the
  * reference's priority — color∧capacity > color > capacity > first in
  * file order (main.py:2693-2751) — as a scored row_number window.
  *
  * The stages live in [[SyncPlan]]; each query here reads one of its
  * frames from a fresh [[Fixture.plan]]. Its two input frames are read
  * once per (session, dir), and its four shared intermediates (the
  * article join, the coded pools, the code-match window) are plan-keyed
  * caches; `Caches.release(s, dir)` drops both. The article lookup is one
  * full-outer join — one shuffle per side at scale instead of one
  * broadcast of the base's keys per stage.
  */
object MatchQueries {

  // ---- oracle CTE chain (DuckDB twin of the builders above) --------------

  private val ctePrefix: String =
    s"""WITH sup AS (${Fixture.supplierSideSql}),
       | base AS (${Fixture.baseSideSql}),
       | new_items AS (SELECT s.* FROM sup s
       |   WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.article = s.article)),
       | sup_named AS (SELECT article, supplier_price, row_id,
       |     ${Fixture.supplierNameSql("article")} AS name,
       |     ${Fixture.supplierColorSql("article")} AS color FROM new_items),
       | sup_coded AS (SELECT article, supplier_price, row_id, name, color,
       |     ${Cleaning.bracketCodeSql("name")} AS code,
       |     ${Cleaning.batteryCapacitySql("name")} AS capacity FROM sup_named),
       | base_named AS (SELECT article AS base_article, base_price, name AS p_name,
       |     ${Fixture.baseNameSql("article", "name")} AS bname,
       |     ${Fixture.baseColorSql("article")} AS bcolor FROM base),
       | base_coded AS (SELECT base_article, base_price, p_name, bname, bcolor,
       |     ${Cleaning.bracketCodeSql("bname")} AS bcode,
       |     ${Cleaning.batteryCapacitySql("bname")} AS bcapacity FROM base_named),
       | bracket_pairs AS (SELECT s.article, s.code, b.base_article,
       |     CASE WHEN s.color = b.bcolor AND s.capacity = b.bcapacity THEN 3
       |          WHEN s.color = b.bcolor THEN 2
       |          WHEN s.capacity = b.bcapacity THEN 1 ELSE 0 END AS score
       |   FROM sup_coded s JOIN base_coded b ON s.code = b.bcode),
       | bracket_scored AS (SELECT *, row_number() OVER
       |     (PARTITION BY article ORDER BY score DESC, base_article ASC) AS rn
       |   FROM bracket_pairs),
       | bracket_best AS (SELECT article, code, base_article, score
       |   FROM bracket_scored WHERE rn = 1),
       | uni_rest AS (SELECT * FROM sup_coded s
       |   WHERE NOT EXISTS (SELECT 1 FROM bracket_best f WHERE f.article = s.article)),
       | sup_uni AS (SELECT article, color, capacity,
       |     ${Cleaning.unifiedCodeSql("name")} AS ucode FROM uni_rest),
       | base_uni AS (SELECT base_article, bcolor, bcapacity,
       |     ${Cleaning.unifiedCodeSql("bname")} AS bucode FROM base_coded),
       | uni_pairs AS (SELECT s.article, s.ucode AS code, b.base_article,
       |     CASE WHEN s.color = b.bcolor AND s.capacity = b.bcapacity THEN 3
       |          WHEN s.color = b.bcolor THEN 2
       |          WHEN s.capacity = b.bcapacity THEN 1 ELSE 0 END AS score
       |   FROM sup_uni s JOIN base_uni b ON s.ucode = b.bucode
       |   WHERE s.ucode IS NOT NULL),
       | uni_scored AS (SELECT *, row_number() OVER
       |     (PARTITION BY article ORDER BY score DESC, base_article ASC) AS rn
       |   FROM uni_pairs),
       | uni_best AS (SELECT article, code, base_article, score
       |   FROM uni_scored WHERE rn = 1)""".stripMargin

  /** The exact (candidate × base) pair universe the fuzzy stages score,
    * with the lowercased names the scorer sees. Dumped by
    * [[graft.tools.DumpPairUniverseSql]] into `fixtures/pair_universe.sql`,
    * which `fixtures/make_difflib_scores.py` evaluates in DuckDB and scores
    * with CPython's difflib — producing the committed
    * `fixtures/difflib_scores.parquet` that the j2/j5 oracle joins. The
    * independence matters: the oracle's similarity numbers come from
    * CPython itself, not from this library's JVM reimplementation, so the
    * hash gate is a true differential test of the difflib-parity contract
    * (reference behavior: main.py:2216-2254, 2804-2924). */
  val pairUniverseSql: String =
    s"""$ctePrefix
       |SELECT s.article, lower(s.name) AS cand_lc,
       |       b.base_article, lower(b.bname) AS base_lc
       |FROM sup_coded s CROSS JOIN base_coded b
       |ORDER BY s.article, b.base_article""".stripMargin

  // ---- queries -----------------------------------------------------------

  val queries: Map[String, QueryFn] = Map(
    // ---- J3: bracket-code match with variant-priority selection ----
    "j3_bracket_match" -> ((s, dir) => Fixture.plan(s, dir).bracketBest.orderBy("article")),

    // ---- J4: unified-code match (bracket > brand > F5 name-code) ----
    "j4_unified_match" -> ((s, dir) => Fixture.plan(s, dir).unifiedBest.orderBy("article")),

    // ---- A7: code-variant grouping (dict-of-lists keyed by code) ----
    "a7_code_variants" -> ((s, dir) =>
      Fixture.plan(s, dir).baseCoded.filter(col("bcode").isNotNull)
        .groupBy(col("bcode").as("code"))
        .agg(count(lit(1)).as("n_variants"),
          array_join(sort_array(collect_list(col("base_article").cast("string"))), ",")
            .as("variants"))
        .orderBy("code")),

    // ---- E2: the full cascade — per supplier article, which stage
    // matched it (article / bracket / unified) or 'new' ----
    "e2_cascade" -> ((s, dir) => Fixture.plan(s, dir).cascade),

    // ---- J7: report-enrichment lookup (matches re-probed against the
    // base for name/color/capacity columns) ----
    "j7_enrich" -> ((s, dir) => {
      val p = Fixture.plan(s, dir)
      p.byArticle.filter(col("in_supplier") && col("in_base")).select("article", "supplier_price")
        .join(broadcast(p.baseCoded), col("article") === col("base_article"))
        .select(col("article"), col("supplier_price"), col("base_price"),
          col("bname"), col("bcolor"), col("bcapacity"))
        .orderBy("article")
    }),

    // ---- P14: processed-item removal (left_anti against a processed
    // set derived from the pool itself) ----
    "p14_processed_removal" -> ((s, dir) => {
      val items = Fixture.plan(s, dir).newItems
      val processed = items.filter(col("article") % 5 === 0).select("article")
      items.join(processed, Seq("article"), "left_anti")
        .select("article", "supplier_price")
        .orderBy("article")
    }),

    // ---- U2: membership as a semi-join (both sides read the caches) ----
    "u2_semi_join" -> ((s, dir) => {
      val p = Fixture.plan(s, dir)
      p.byArticle.filter(col("in_supplier")).select("article", "supplier_price")
        .join(broadcast(p.baseCoded.select(col("base_article").as("article"))),
          Seq("article"), "left_semi")
        .orderBy("article")
    }),

    // ---- J2: per-new-item fuzzy probe (left: unmatched keep nulls);
    // difflib-parity ratio → rows-only gate + ScalaTest parity specs ----
    "j2_fuzzy_probe" -> ((s, dir) => Fixture.plan(s, dir).fuzzy.orderBy("article")),

    // ---- J5: batch fuzzy match (inner: matched candidates only) ----
    "j5_fuzzy_batch" -> ((s, dir) =>
      Fixture.plan(s, dir).fuzzy.filter(col("fuzzy_base_article").isNotNull)
        .select("article", "fuzzy_base_article", "fuzzy_sim")
        .orderBy("article"))
  )

  val oracle: Map[String, String] = Map(
    "j3_bracket_match" ->
      s"""$ctePrefix
         |SELECT article, code, base_article, score FROM bracket_best
         |ORDER BY article""".stripMargin,

    "j4_unified_match" ->
      s"""$ctePrefix
         |SELECT article, code, base_article, score FROM uni_best
         |ORDER BY article""".stripMargin,

    "a7_code_variants" ->
      s"""$ctePrefix
         |SELECT bcode AS code, count(*) AS n_variants,
         | string_agg(CAST(base_article AS VARCHAR), ','
         |            ORDER BY CAST(base_article AS VARCHAR)) AS variants
         |FROM base_coded WHERE bcode IS NOT NULL
         |GROUP BY bcode ORDER BY code""".stripMargin,

    "e2_cascade" ->
      s"""$ctePrefix
         |SELECT article, 'article' AS found_by, article AS base_article FROM sup s
         | WHERE EXISTS (SELECT 1 FROM base b WHERE b.article = s.article)
         |UNION ALL SELECT article, 'bracket', base_article FROM bracket_best
         |UNION ALL SELECT article, 'unified', base_article FROM uni_best
         |UNION ALL SELECT n.article, 'new', CAST(NULL AS BIGINT) FROM new_items n
         | WHERE NOT EXISTS (SELECT 1 FROM bracket_best f WHERE f.article = n.article)
         |   AND NOT EXISTS (SELECT 1 FROM uni_best f WHERE f.article = n.article)
         |ORDER BY article""".stripMargin,

    "j7_enrich" ->
      s"""$ctePrefix
         |SELECT s.article, s.supplier_price, b.base_price, b.bname, b.bcolor, b.bcapacity
         |FROM sup s JOIN base_coded b ON s.article = b.base_article
         |ORDER BY article""".stripMargin,

    "p14_processed_removal" ->
      s"""$ctePrefix
         |SELECT article, supplier_price FROM new_items n
         |WHERE NOT EXISTS (SELECT 1 FROM
         |  (SELECT article FROM new_items WHERE article % 5 = 0) p
         |  WHERE p.article = n.article)
         |ORDER BY article""".stripMargin,

    "u2_semi_join" ->
      s"""WITH sup AS (${Fixture.supplierSideSql}), base AS (${Fixture.baseSideSql})
         |SELECT article, supplier_price FROM sup s
         |WHERE EXISTS (SELECT 1 FROM base b WHERE b.article = s.article)
         |ORDER BY article""".stripMargin,

    // ---- J2/J5: hash-gated against the committed CPython-difflib score
    // fixture (fixtures/difflib_scores.parquet over pairUniverseSql; see
    // fixtures/make_difflib_scores.py for regeneration). The fixture
    // carries the EXACT CPython ratio (`sim`) — used for the threshold
    // and the argmax, where exactness keeps ties consistent with the
    // engine — and `sim_r4`, CPython-side replication of Spark's
    // round(_, 4) (HALF_UP over Double.toString's shortest-decimal form)
    // for the reported column. The length band is lossless
    // (ratio ≤ 2·min/(sum)), so the oracle needs no band predicate.
    "j2_fuzzy_probe" ->
      s"""$ctePrefix,
         | ranked AS (SELECT article, base_article AS s_base, sim_r4,
         |     row_number() OVER (PARTITION BY article
         |                        ORDER BY sim DESC, base_article ASC) AS rn
         |   FROM read_parquet('/root/repo/fixtures/difflib_scores.parquet')
         |   WHERE sim >= 0.33),
         | best AS (SELECT r.article, r.s_base, b.bname, r.sim_r4
         |   FROM ranked r JOIN base_coded b ON b.base_article = r.s_base
         |   WHERE r.rn = 1)
         |SELECT s.article, s.name, best.s_base AS fuzzy_base_article,
         |  best.bname AS fuzzy_name, best.sim_r4 AS fuzzy_sim
         |FROM sup_coded s LEFT JOIN best ON best.article = s.article
         |ORDER BY s.article""".stripMargin,

    "j5_fuzzy_batch" ->
      s"""$ctePrefix,
         | ranked AS (SELECT article, base_article AS s_base, sim, sim_r4,
         |     row_number() OVER (PARTITION BY article
         |                        ORDER BY sim DESC, base_article ASC) AS rn
         |   FROM read_parquet('/root/repo/fixtures/difflib_scores.parquet')
         |   WHERE sim >= 0.33)
         |SELECT article, s_base AS fuzzy_base_article, sim_r4 AS fuzzy_sim
         |FROM ranked WHERE rn = 1
         |ORDER BY article""".stripMargin
  )
}
