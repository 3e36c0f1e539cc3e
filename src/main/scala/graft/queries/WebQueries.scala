package graft.queries

import graft.Tables
import graft.functions.Url
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL/domain modality (r15 verdict gap #1): parse + canonicalize
  * crawl URLs, roll up per registrable domain, and filter by
  * blocklist / per-domain cap — the operators every production crawl
  * curation stack runs before anything content-based (C4, RefinedWeb,
  * Dolma). The documents fixture carries no URL column, so a
  * deterministic URL is BUILT from (doc_id, source) — the htmlDoc
  * fixture discipline — planting eleven hostile shapes
  * ([[graft.functions.Url.urlOf]]) that both engines construct and
  * parse byte-identically.
  *
  * Scale: parsing is per-row builtin string algebra (codegen'd, no
  * UDF, no shuffle); rollups shuffle once on the registrable domain
  * (Heaps-sublinear cardinality — domains, not pages); the per-domain
  * cap is a domain-partitioned window, never a global sort. The
  * blocklist is a literal IN here and lands as a broadcastable table
  * at production scale (same algebra, the CASE becomes a join).
  */
object WebQueries {

  /** Per-domain admission cap (w3): C4/RefinedWeb-style "no domain
    * dominates the corpus" guard. */
  val DomainCapDocs = 50L

  /** Blocked registrable domains — the committed blocklist fixture. */
  val BlockedDomains: Seq[String] = Seq("crawl-hub.com", "site-3.com")

  /** Tokens per doc for domain economics: whitespace split, 0 for
    * null text (a markup-only page still counts as a doc). */
  private def tokensOf(text: org.apache.spark.sql.Column) =
    when(text.isNull, lit(0L)).otherwise(size(split(text, " ")).cast("long"))

  /** The parsed-URL frame every w-query starts from. */
  private[graft] def parsedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Url.withParsed(Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        Url.urlOf(col("doc_id"), col("source")).as("url")))

  /** Per-domain additive stats of a doc slice — the mergeable
    * sufficient statistic behind the domain modality (docs and tokens
    * are SUMS over disjoint document sets, so the t43/t55 count-store
    * contract applies verbatim).
    *
    * The narrow (reg_domain, toks) projection is CACHED before the
    * aggregate (w2's fix, applied at the source): CollapseProject
    * otherwise inlines the whole URL-parse chain into the grouping
    * key, and with e35's two extra join branches on top the generated
    * hashAgg method crossed janino's 64 KB limit — the silent
    * interpreted-eval fallback the CodegenGuard exists to catch
    * (found in the r17 close bench log as ERROR CodeGenerator). */
  private def domainStatsOf(dir: String, parsed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Caches.trackCached(dir,
        parsed.select(col("reg_domain"), tokensOf(col("text")).as("toks")))
      .groupBy("reg_domain")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("toks").cast("long").as("n_tokens"))

  private[graft] val domainStatSchema =
    "reg_domain STRING, n_docs BIGINT, n_tokens BIGINT"

  /** W5's landed PER-DOMAIN stat store: (reg_domain, n_docs, n_tokens)
    * over the PRE-DELTA corpus (the shared %9==4 arrival carve). A new
    * crawl slice aggregates ALONE and adds in — history is never
    * re-parsed. Domain cardinality is Heaps-sublinear in pages, so the
    * store stays far smaller than the corpus at any scale. */
  private[graft] def domainStoreFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "w5") { l =>
      domainStatsOf(dir, parsedDocs(s, dir).filter(!PipelineQueries.bpeIsDelta))
        .write.mode("overwrite").parquet(l.path)
      l.path
    }

  /** e34's landed per-domain HISTORY: n_docs per registrable domain
    * over the e15 CORPUS carve (doc_id % 10 ≠ 0) — the admission
    * gate's view of how much budget a domain has already consumed.
    * Same store shape as [[domainStoreFor]] (w5's additive contract),
    * different population: w5 refreshes on the %9 delta carve, e34
    * admits the %10 arrival carve against everything else. */
  private[graft] def e34DomainHistFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "e34h") { l =>
      domainStatsOf(dir, parsedDocs(s, dir).filter(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(l.path)
      l.path
    }

  /** e35's landed admission DELTA — the domain-history store's
    * maintenance leg (e20's admit-then-append shape on the newest
    * axis): wave-1 arrivals (doc_id % 20 == 0) admit against the
    * LANDED history, and the ADMITTED docs' own domain stats land as
    * a delta table — base files untouched, history never re-parsed.
    * Wave-2 admission then serves base ∪ delta, so a domain filled to
    * its cap by wave-1 admissions correctly rejects in wave 2. */
  private[graft] def e35DeltaFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "e35d") { l =>
      val hist = graft.operators.CapGate.gate(
        s.read.schema(domainStatSchema).parquet(e34DomainHistFor(s, dir))
          .select(col("reg_domain"), col("n_docs").as("hist_docs"))).frame
      // reg_domain IS NOT NULL aligns with the twin's `NOT IN` (NULL
      // drops there); a null-domain delta row would be invisible in
      // every serve anyway (null never equi-joins), but the two
      // engines' delta TABLES should partition identically
      // CACHED before the joins — the parse chain plus two join
      // branches in one whole-stage pushed processNext() past 64 KB
      // (domainStatsOf's note); the cached frame is wave-sized
      val wave1 = Caches.trackCached(dir,
        parsedDocs(s, dir).filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"), col("reg_domain"), col("text")))
      val admitted = wave1
        .join(broadcast(blockedFrame(s, dir)), Seq("reg_domain"), "left")
        .join(hist, Seq("reg_domain"), "left")
        .filter(col("reg_domain").isNotNull &&
          !coalesce(col("is_blocked"), lit(false)) &&
          coalesce(col("hist_docs"), lit(0L)) <
            lit(DedupQueries.E34DomainCapDocs))
      domainStatsOf(dir, admitted)
        .write.mode("overwrite").parquet(l.path)
      l.path
    }

  /** The landed BLOCKLIST table (replacing w3's r16 literal `Seq`): at
    * production scale the blocklist is maintained data, not code — a
    * landed table consumed via a broadcast membership join. Bounded by
    * construction: a curated list of blocked registrable domains
    * (thousands at most), never corpus-derived — the broadcast is safe
    * at any corpus scale. */
  private[graft] def blocklistFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "w3bl") { l =>
      import s.implicits._
      BlockedDomains.toDF("reg_domain")
        .coalesce(1).write.mode("overwrite").parquet(l.path)
      l.path
    }

  /** The landed blocklist as a broadcastable membership frame. */
  private[graft] def blockedFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.schema("reg_domain STRING").parquet(blocklistFor(s, dir))
      .withColumn("is_blocked", lit(true))

  val queries: Map[String, QueryFn] = Map(
    // ---- W1: URL parse + canonicalization — every component the
    // downstream domain operators key on, over all eleven hostile
    // shapes (ports, userinfo, punycode, missing scheme, uppercase +
    // trailing-dot hosts, fragments, deep subdomains, bare hosts,
    // IPv4, multi-label suffixes). Pure codegen string algebra; the
    // twin replays construction AND parse. ----
    "w1_url_parse" -> ((s, dir) =>
      parsedDocs(s, dir)
        .select("doc_id", "url", "scheme", "userinfo", "host", "port",
          "reg_domain", "path", "query")
        .orderBy("doc_id")),

    // ---- W2: per-domain rollup — docs, tokens, and near-dup rate
    // (fraction of the domain's docs that sit in a d2 MinHash edge —
    // the signal that demotes template farms). One shuffle on the
    // registrable domain; the dup-doc set reuses d2's memoized edges
    // (bucketed LSH, never all-pairs), semi-joined onto the doc spine.
    // dup_rate in basis points keeps the gate integer-exact. ----
    "w2_domain_rollup" -> ((s, dir) => {
      // CACHED: the parse chain is wide builtin algebra; inlined into
      // BOTH aggregate branches of this query it collapses into one
      // giant grouping expression that blows codegen's method limit
      // and silently falls back to interpreted eval (measured 10.6 s
      // vs 0.4 s at sf0.1). The cached (doc_id, reg_domain, toks)
      // frame is 3 columns — both branches scan attributes instead.
      val docs = Caches.trackCached(dir, parsedDocs(s, dir)
        .select(col("doc_id"), col("reg_domain"), tokensOf(col("text")).as("toks")))
      val edges = DedupQueries.d2EdgesFor(s, dir)
      val dupDocs = edges.select(col("doc1").as("doc_id"))
        .unionByName(edges.select(col("doc2").as("doc_id"))).distinct()
      val base = docs.groupBy("reg_domain").agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("toks").cast("long").as("n_tokens"))
      val dup = docs.join(dupDocs, Seq("doc_id"), "left_semi")
        .groupBy("reg_domain").agg(count(lit(1)).cast("long").as("n_dup_docs"))
      base.join(dup, Seq("reg_domain"), "left")
        .select(col("reg_domain"), col("n_docs"), col("n_tokens"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
          expr("coalesce(n_dup_docs, 0) * 10000 div n_docs").as("dup_rate_bp"))
        .orderBy("reg_domain")
    }),

    // ---- W3: blocklist + per-domain cap — the admission filter a
    // crawl frontier applies before any content work: a blocked
    // registrable domain drops wholesale; an unblocked domain admits
    // its first [[DomainCapDocs]] docs (doc_id order — deterministic
    // in both engines) and marks the rest over_cap. The window is
    // domain-partitioned (no global sort); blocked wins precedence.
    // r17: the blocklist is a LANDED table consumed via a broadcast
    // membership join (blockedFrame — maintained data, not a literal);
    // a null reg_domain never equi-matches it, exactly the literal
    // isin's null semantics, so the twin's IN list is unchanged. ----
    "w3_domain_filter" -> ((s, dir) => {
      val w = Window.partitionBy("reg_domain").orderBy("doc_id")
      parsedDocs(s, dir)
        .select(col("doc_id"), col("reg_domain"))
        .join(broadcast(blockedFrame(s, dir)), Seq("reg_domain"), "left")
        .withColumn("rank_in_domain", row_number().over(w).cast("long"))
        .withColumn("verdict",
          when(col("is_blocked"), "blocked")
            .when(col("rank_in_domain") > lit(DomainCapDocs), "over_cap")
            .otherwise("kept"))
        .select("doc_id", "reg_domain", "rank_in_domain", "verdict")
        .orderBy("doc_id")
    }),

    // ---- W5: the domain stat store's REFRESH — w2's rollup as a
    // landed additive artifact (the t43/t55 count-store contract on
    // the newest modality): the pre-delta corpus lands once
    // ([[domainStoreFor]]), the arriving crawl slice (the shared
    // %9==4 carve) aggregates ALONE, and serving sums store + delta
    // per domain — history is never re-parsed. The oracle recomputes
    // the rollup from ALL documents, so the hash gate proves
    // store(hist) + agg(delta) ≡ agg(hist ∪ delta). Scale: the store
    // is domain-cardinality (Heaps-sublinear), the refresh touches
    // only the delta's pages, the merge one store-sized shuffle. ----
    "w5_domain_refresh" -> ((s, dir) => {
      val store = s.read.schema(domainStatSchema)
        .parquet(domainStoreFor(s, dir))
      val delta = domainStatsOf(dir,
        parsedDocs(s, dir).filter(PipelineQueries.bpeIsDelta))
      store.unionByName(delta)
        .groupBy("reg_domain")
        .agg(sum("n_docs").cast("long").as("n_docs"),
          sum("n_tokens").cast("long").as("n_tokens"))
        .orderBy("reg_domain")
    }),

    // ---- W4: canonical-URL recrawl dedup — keep-NEWEST-per-URL, the
    // freshness twin of content dedup that every recurring-crawl
    // pipeline hits first: two fetches of the same page a week apart
    // are not near-duplicates to merge but VERSIONS to supersede. The
    // canonical key ([[Url.canonUrl]]) collapses scheme defaulting,
    // credentials, host casing, and fragments, so the fixture's
    // shape-7 (bare blog host) and shape-2 (per-fetch userinfo) URLs
    // become genuine recrawl groups; fetch recency is the
    // deterministic fetch_day derived from the crawl sequence (both
    // engines compute (doc_id * 7) % 100 — sign-of-dividend in each).
    // s14's CDC last-wins shape on the URL key: ONE hash shuffle for
    // the window (newest fetch_day, doc_id breaking ties), every
    // verdict and the per-URL fetch count ride the same partitioning —
    // no second exchange. At 100 TB the key is page-cardinality, the
    // state one row per page version, and nothing is corpus-global. ----
    // ---- E35: domain-history ADMIT-THEN-APPEND — the maintenance
    // leg that keeps e34's domain budget honest across waves (e20/e22/
    // e27/x20's shape on the newest store): wave 1 (doc_id % 20 == 0)
    // admits against the LANDED history; its ADMITTED docs' domain
    // stats land as a delta ([[e35DeltaFor]] — base files untouched);
    // wave 2 (doc_id % 20 == 10) admits against base ∪ delta, so a
    // domain filled to the cap BY wave-1 admissions rejects in wave 2
    // (at sf0.01, two wave-2 docs cross the cap only via the delta —
    // the branch this leg exists for). The oracle replays wave-1
    // admit → delta → wave-2 admit relationally, so the hash gate
    // proves serve-over-landed-delta ≡ recompute-over-updated-history.
    // Scale: the delta is wave-sized; serving is two store-cardinality
    // scans + the same stateless joins as e34; wave-2's own parse
    // reads only (doc_id, source) — no text (PlanSpec pins the pruned
    // ReadSchema). ----
    "e35_domain_append" -> ((s, dir) => {
      val hist = s.read.schema(domainStatSchema)
        .parquet(e34DomainHistFor(s, dir))
      val delta = s.read.schema(domainStatSchema)
        .parquet(e35DeltaFor(s, dir))
      val combined = graft.operators.CapGate.gate(
        hist.unionByName(delta)
          .groupBy("reg_domain")
          .agg(sum("n_docs").cast("long").as("hist_docs"))).frame
      // CACHED slim frame — the domainStatsOf note's cliff, on the
      // serve side: the parse chain inlined across the two joins and
      // the verdict CASE pushed processNext() past 64 KB
      Caches.trackCached(dir,
          parsedDocs(s, dir).filter(col("doc_id") % 20 === 10)
            .select(col("doc_id"), col("reg_domain")))
        .join(broadcast(blockedFrame(s, dir)), Seq("reg_domain"), "left")
        .join(combined, Seq("reg_domain"), "left")
        .select(col("doc_id"), col("reg_domain"),
          coalesce(col("hist_docs"), lit(0L)).as("hist_docs"),
          when(col("is_blocked"), "blocked")
            .when(coalesce(col("hist_docs"), lit(0L)) >=
              lit(DedupQueries.E34DomainCapDocs), "over_cap")
            .otherwise("ok").as("domain_verdict"))
        .orderBy("doc_id")
    }),

    "w4_recrawl_dedup" -> ((s, dir) => {
      val w = Window.partitionBy("canon_url")
        .orderBy(col("fetch_day").desc, col("doc_id").desc)
      val wc = Window.partitionBy("canon_url")
      parsedDocs(s, dir)
        .withColumn("canon_url", Url.canonUrl)
        .withColumn("fetch_day", (col("doc_id") * lit(7L)) % lit(100L))
        .select(col("doc_id"), col("canon_url"), col("fetch_day"))
        .withColumn("n_fetches", count(lit(1)).over(wc).cast("long"))
        .withColumn("verdict",
          when(row_number().over(w) === 1, "kept").otherwise("superseded"))
        .orderBy("doc_id")
    }),

    // ---- W6: the recrawl FEED verdict — w4's arrival-shaped twin. w4
    // answers "which fetch survives" retrospectively; a crawl frontier
    // must answer it AT ARRIVAL: admit a fetch iff it is at least as
    // fresh as the freshest prior fetch of its canonical URL in feed
    // order (= doc_id; fetch_day is data, not order, so admissions are
    // genuine running maxima). A null fetch_day never freshens the
    // frontier but is admitted when the URL has no dated fetch yet —
    // same null algebra in both engines. The running max over strict
    // predecessors rides ONE canon_url exchange (w4's key); at 100 TB
    // this is the same URL-hash shuffle the retrospective dedup pays.
    // The streaming twin (EventStream.recrawlKeepNewest) folds the
    // identical rule over per-URL frontier state. ----
    "w6_recrawl_feed" -> ((s, dir) => {
      val wPrev = Window.partitionBy("canon_url")
        .orderBy(col("doc_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, -1)
      parsedDocs(s, dir)
        .withColumn("canon_url", Url.canonUrl)
        .withColumn("fetch_day", (col("doc_id") * lit(7L)) % lit(100L))
        .select(col("doc_id"), col("canon_url"), col("fetch_day"))
        .withColumn("prev_best", max("fetch_day").over(wPrev))
        .withColumn("verdict",
          when(col("prev_best").isNull || col("fetch_day") >= col("prev_best"),
            "admitted").otherwise("stale"))
        .drop("prev_best")
        .orderBy("doc_id")
    }))

  /** URL construction twin — must mirror [[Url.urlOf]] byte-for-byte
    * (`||` concatenation so a null doc_id propagates like Spark's
    * concat). */
  private[queries] def urlSqlFor(id: String, source: String): String = {
    val d = s"CAST($id AS VARCHAR)"
    val i13 = s"CAST($id % 13 AS VARCHAR)"
    val src = s"lower(regexp_replace(COALESCE($source, 'nosrc'), '[^A-Za-z0-9]', '', 'g'))"
    s"""CASE $id % 11
       | WHEN 0 THEN 'site-' || $i13 || '.com/p/' || $d
       | WHEN 1 THEN 'https://shop.site-' || $i13 || '.co.uk:8443/cart?item=' || $d
       | WHEN 2 THEN 'http://u' || $d || ':pw@site-' || $i13 || '.com/account'
       | WHEN 3 THEN 'https://xn--ste-' || $i13 || '-kva.de/page/' || $d
       | WHEN 4 THEN 'HTTPS://WWW.Site-' || $i13 || '.COM./Index/' || $d
       | WHEN 5 THEN 'https://site-' || $i13 || '.com/search?q=a' || $d || '&lang=en#r' || $d
       | WHEN 6 THEN 'https://a.b.news.site-' || $i13 || '.org/' || $d
       | WHEN 7 THEN 'http://blog.site-' || $i13 || '.org'
       | WHEN 8 THEN 'http://10.0.' || $i13 || '.' || CAST($id % 251 AS VARCHAR) || '/admin'
       | WHEN 9 THEN 'http://news.site-' || $i13 || '.co.uk/story/' || $d
       | ELSE 'https://hub.crawl-hub.com/t/' || $src || '/' || $d
       |END""".stripMargin
  }

  /** [[Url.canonUrl]]'s twin over the `parsed` CTE's columns — CASE by
    * CASE, so a null url propagates to a null key in both engines. */
  private[queries] val canonUrlSql: String =
    // single line: consumers embed this inside their own stripMargin
    // blocks, where a line-leading '||' would lose a pipe to the margin
    "(CASE WHEN scheme = '' THEN 'http' ELSE scheme END || '://' || host || " +
      "CASE WHEN port > 0 THEN ':' || CAST(port AS VARCHAR) ELSE '' END || " +
      "CASE WHEN path = '' THEN '/' ELSE path END || " +
      "CASE WHEN query = '' THEN '' ELSE '?' || query END)"

  private def suffixInList: String =
    Url.MultiLabelSuffixes.map(sx => s"'$sx'").mkString("(", ", ", ")")

  /** The parse-chain twin of [[Url.withParsed]], parameterized on the
    * source relation so consumers (t48's funnel) can parse INLINE over
    * their own frame exactly as the engine does — a join back to the
    * all-documents chain would drop null-doc_id rows the engine keeps.
    * Ends in a `parsed` CTE with (`carried`..., url, scheme, userinfo,
    * host, port, reg_domain, path, query). */
  private[queries] def urlParseCteSqlFrom(rel: String, idExpr: String,
      srcExpr: String, carried: Seq[String]): String = {
    val cs = carried.mkString(", ")
    s"""u AS (SELECT $cs, ${urlSqlFor(idExpr, srcExpr)} AS url
       |      FROM $rel),
       | p0 AS (SELECT *, regexp_extract(url,
       |     '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS schemeraw FROM u),
       | p1 AS (SELECT *, CASE WHEN schemeraw = '' THEN url
       |     ELSE substr(url, length(schemeraw) + 4) END AS rest FROM p0),
       | p2 AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS authority
       |   FROM p1),
       | p3 AS (SELECT *, substr(rest, length(authority) + 1) AS afterauth,
       |     regexp_extract(authority, '^([^@]*)@', 1) AS userinfo FROM p2),
       | p4 AS (SELECT *, CASE WHEN instr(authority, '@') > 0
       |     THEN substr(authority, length(userinfo) + 2)
       |     ELSE authority END AS hostport FROM p3),
       | p5 AS (SELECT *, regexp_extract(hostport, ':([0-9]+)$$', 1) AS portstr,
       |     regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$$', '')),
       |       '\\.$$', '') AS host FROM p4),
       | p6 AS (SELECT *,
       |     CASE WHEN portstr = '' THEN 0 ELSE CAST(portstr AS BIGINT) END AS port,
       |     regexp_extract(afterauth, '^([^?#]*)', 1) AS path,
       |     regexp_extract(afterauth, '^[^#?]*\\?([^#]*)', 1) AS query,
       |     string_split(host, '.') AS labels FROM p5),
       | parsed AS (SELECT $cs, url, lower(schemeraw) AS scheme,
       |     userinfo, host, port,
       |     CASE WHEN regexp_matches(host, '^[0-9]+(\\.[0-9]+){3}$$')
       |            OR len(labels) <= 2 THEN host
       |          WHEN (labels[-2] || '.' || labels[-1]) IN $suffixInList
       |            AND len(labels) >= 3
       |            THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
       |          ELSE labels[-2] || '.' || labels[-1] END AS reg_domain,
       |     path, query FROM p6)""".stripMargin
  }

  /** The all-documents instance of [[urlParseCteSqlFrom]] — the w1/w2/w3
    * twins' shared chain. */
  private[queries] val urlParseCteSql: String =
    urlParseCteSqlFrom("documents", "doc_id", "source", Seq("doc_id", "text"))

  val oracle: Map[String, String] = Map(
    "w1_url_parse" ->
      s"""WITH $urlParseCteSql
         |SELECT doc_id, url, scheme, userinfo, host, port, reg_domain,
         |  path, query
         |FROM parsed ORDER BY doc_id""".stripMargin,

    "w2_domain_rollup" ->
      s"""WITH $urlParseCteSql,
         | toks AS (SELECT doc_id, reg_domain, CASE WHEN text IS NULL THEN 0
         |     ELSE CAST(len(string_split(text, ' ')) AS BIGINT) END AS toks
         |   FROM parsed),
         | dup AS (SELECT DISTINCT doc_id FROM (
         |     SELECT doc1 AS doc_id FROM (${DedupQueries.d2ExhaustiveSql})
         |     UNION SELECT doc2 FROM (${DedupQueries.d2ExhaustiveSql}))),
         | base AS (SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_docs,
         |     CAST(sum(toks) AS BIGINT) AS n_tokens FROM toks GROUP BY 1),
         | dd AS (SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_dup_docs
         |   FROM toks JOIN dup USING (doc_id) GROUP BY 1)
         |SELECT b.reg_domain, b.n_docs, b.n_tokens,
         |  COALESCE(dd.n_dup_docs, 0) AS n_dup_docs,
         |  COALESCE(dd.n_dup_docs, 0) * 10000 // b.n_docs AS dup_rate_bp
         |FROM base b LEFT JOIN dd USING (reg_domain)
         |ORDER BY reg_domain""".stripMargin,

    "w3_domain_filter" ->
      s"""WITH $urlParseCteSql,
         | rk AS (SELECT doc_id, reg_domain, CAST(row_number() OVER (
         |     PARTITION BY reg_domain ORDER BY doc_id) AS BIGINT)
         |     AS rank_in_domain FROM parsed)
         |SELECT doc_id, reg_domain, rank_in_domain,
         |  CASE WHEN reg_domain IN ('crawl-hub.com', 'site-3.com')
         |       THEN 'blocked'
         |       WHEN rank_in_domain > ${DomainCapDocs} THEN 'over_cap'
         |       ELSE 'kept' END AS verdict
         |FROM rk ORDER BY doc_id""".stripMargin,

    // w5's gate is the landed≡recomputed proof: the engine serves
    // store + delta, the oracle recomputes from all documents
    "w5_domain_refresh" ->
      s"""WITH $urlParseCteSql,
         | toks AS (SELECT doc_id, reg_domain, CASE WHEN text IS NULL THEN 0
         |     ELSE CAST(len(string_split(text, ' ')) AS BIGINT) END AS toks
         |   FROM parsed)
         |SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens
         |FROM toks GROUP BY 1 ORDER BY reg_domain""".stripMargin,

    // e35's twin replays wave-1 admit → delta → wave-2 admit from raw
    // documents, so the gate proves the landed-delta serve equals the
    // recompute over the updated history
    "e35_domain_append" -> {
      val blocked = BlockedDomains.map(d => s"'$d'").mkString("(", ", ", ")")
      s"""WITH $urlParseCteSql,
         | hist AS (SELECT reg_domain, CAST(count(*) AS BIGINT) AS h
         |   FROM parsed WHERE doc_id % 10 <> 0 GROUP BY 1),
         | w1 AS (SELECT p.doc_id, p.reg_domain, COALESCE(h.h, 0) AS h
         |   FROM parsed p LEFT JOIN hist h USING (reg_domain)
         |   WHERE p.doc_id % 20 = 0),
         | delta AS (SELECT reg_domain, CAST(count(*) AS BIGINT) AS d
         |   FROM w1 WHERE reg_domain NOT IN $blocked
         |     AND h < ${DedupQueries.E34DomainCapDocs} GROUP BY 1),
         | w2 AS (SELECT p.doc_id, p.reg_domain,
         |     COALESCE(h.h, 0) + COALESCE(d.d, 0) AS hist_docs
         |   FROM parsed p LEFT JOIN hist h USING (reg_domain)
         |   LEFT JOIN delta d USING (reg_domain)
         |   WHERE p.doc_id % 20 = 10)
         |SELECT doc_id, reg_domain, hist_docs,
         |  CASE WHEN reg_domain IN $blocked THEN 'blocked'
         |       WHEN hist_docs >= ${DedupQueries.E34DomainCapDocs}
         |         THEN 'over_cap'
         |       ELSE 'ok' END AS domain_verdict
         |FROM w2 ORDER BY doc_id""".stripMargin
    },

    "w4_recrawl_dedup" ->
      s"""WITH $urlParseCteSql,
         | canon AS (SELECT doc_id, $canonUrlSql AS canon_url,
         |     (doc_id * 7) % 100 AS fetch_day FROM parsed),
         | rk AS (SELECT *,
         |     row_number() OVER (PARTITION BY canon_url
         |       ORDER BY fetch_day DESC, doc_id DESC) AS rn,
         |     CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT)
         |       AS n_fetches
         |   FROM canon)
         |SELECT doc_id, canon_url, fetch_day, n_fetches,
         |  CASE WHEN rn = 1 THEN 'kept' ELSE 'superseded' END AS verdict
         |FROM rk ORDER BY doc_id""".stripMargin,

    // w6's twin replays the same running-max-over-predecessors rule;
    // NULLS LAST matches the engine's asc_nulls_last feed order, and
    // the CASE's null fall-through matches Spark's null comparison
    "w6_recrawl_feed" ->
      s"""WITH $urlParseCteSql,
         | canon AS (SELECT doc_id, $canonUrlSql AS canon_url,
         |     (doc_id * 7) % 100 AS fetch_day FROM parsed),
         | rk AS (SELECT *, max(fetch_day) OVER (PARTITION BY canon_url
         |     ORDER BY doc_id NULLS LAST
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
         |   FROM canon)
         |SELECT doc_id, canon_url, fetch_day,
         |  CASE WHEN prev_best IS NULL OR fetch_day >= prev_best
         |       THEN 'admitted' ELSE 'stale' END AS verdict
         |FROM rk ORDER BY doc_id""".stripMargin)
}
