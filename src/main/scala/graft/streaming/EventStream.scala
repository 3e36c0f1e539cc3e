package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming extension over the events fixture (SURVEY.md
  * §2.9: the reference is batch-only, so this is additive capability,
  * kept out of the batch parity surface — its batch twin is the
  * e_window_counts query).
  *
  * Scale notes: the windowed aggregation is a streaming state-store
  * aggregation keyed by (window, event_type) — partitioned state, no
  * global ordering; the watermark bounds state size. Sessionization
  * keys state by user_id (hash-partitioned), emits on event-time
  * timeout, so state is O(active users), not O(events).
  */
object EventStream {

  case class Event(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionAcc(count: Long, sumValue: Double, startMs: Long, lastMs: Long)
  case class UserSession(user_id: Long, n_events: Long, sum_value: Double, duration_sec: Double)

  /** [[scoreArrivals]]'s map-side prep: one arrival's bigram types,
    * regrouped to multiplicities and truncated at LmDocTypeCap. */
  case class LmKeptType(lhs: String, rhs: String, m: Long)
  case class LmPrep(n_bigrams: Long, n_types_dropped: Long, kept: Seq[LmKeptType])
  case class Lm3Type(w1: String, w2: String, w3: String, m: Long)

  /** Logical schema of the events fixture, with ts's physical type
    * substituted per encoding at read time (see [[readEvents]]). */
  val storedSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source streaming read of the events table. The streaming file
    * source requires a user-supplied schema, so one driver-side batch
    * footer read picks the ts branch (the same encoding dispatch as
    * [[graft.Tables.events]]): BIGINT nanos → long schema + µs
    * conversion; timestamp[us] → force TimestampType in the schema so
    * the raw micros load as the instant with no session-tz shift. The
    * file source wants a directory, so the fixture dir is filtered down
    * to the events file; in production this would be a drop-directory of
    * event parquet files picked up incrementally. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val stored = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val base = spark.readStream
    stored match {
      case LongType =>
        base.schema(storedSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        val forced = StructType(storedSchema.map {
          case f if f.name == "ts" => f.copy(dataType = TimestampType)
          case f => f
        })
        base.schema(forced)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    }
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark. Works on
    * both streaming and batch frames (withWatermark is a no-op hint in
    * batch), so streaming results are directly checkable against the
    * batch twin. */
  def windowCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Stream-static enrichment: the event stream joined to a static
    * (batch) dimension table on the user key — the streaming analog of
    * the engine's dimension joins. Spark re-plans the static side per
    * micro-batch, so a versioned dimension ([[graft.sources.Versioned]])
    * picks up new versions between batches; the broadcast keeps the
    * stream un-shuffled. */
  def enrichEvents(events: DataFrame, dim: DataFrame, dimKey: String): DataFrame =
    // SIZE BOUND for the forced broadcast: `dim` is a per-key dimension
    // snapshot (one row per user in the fixture; one row per entity in
    // production) — entity-cardinality, not event-cardinality, and the
    // contract of this API is a broadcast-sized dimension. A dimension
    // past ~8 GB hashed belongs in the CapGate/stream-static shuffle
    // path instead (see encodeArrivals), not this helper.
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events("user_id") === dim(dimKey), "left")

  /** Stream-static point-in-time enrichment — the streaming twin of the
    * batch e16 query: arriving facts pick the dimension version whose
    * SCD2 validity interval contains the fact time. The batch side uses
    * the [[graft.operators.AsOfJoin]] union-sort-carry kernel (a window
    * over the union — unavailable on an unbounded stream); here the
    * STATIC side is the landed dimension whose intervals are disjoint
    * and contiguous per key, so the interval-containment join matches
    * AT MOST ONE version per fact and needs no state, dedup, or
    * watermark: a stateless per-micro-batch broadcast join, the serve
    * shape you want at 100 TB where the dimension is tiny next to the
    * fact stream. StreamingSpec proves stream ≡ the as-of kernel row
    * for row — the machine-checked form of the contiguity argument. */
  def enrichPointInTime(facts: DataFrame, dim: DataFrame,
      key: String, factTime: org.apache.spark.sql.Column): DataFrame =
    // SIZE BOUND for the forced broadcast: the SCD2 dimension is
    // entity-cardinality × version-count — bounded by the dimension's
    // own history, not by the fact stream — and the interval join
    // below is a non-equi join that MUST be broadcast to stay
    // stateless (a shuffled interval join on a stream would need state
    // the watermark can't bound). A history past broadcast size needs
    // the batch AsOfJoin kernel over landed micro-batches instead.
    facts.join(org.apache.spark.sql.functions.broadcast(dim),
      facts(key) === dim(key) &&
        dim("valid_from") <= factTime &&
        (dim("valid_to").isNull || factTime < dim("valid_to")),
      "left")

  /** Streaming dedup: drop events whose `event_id` was already seen
    * within the watermark horizon — the streaming twin of the batch
    * dedup suite (at-least-once sources → effectively-once downstream).
    * State is bounded by the watermark: ids older than the horizon are
    * evicted, so memory is O(events per horizon), not O(stream). */
  def dedupEvents(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming near-duplicate admission gate — the stream twin of the
    * batch d4 simhash dedup, for an INGEST pipeline: each arriving
    * document's 64-bit simhash (polynomial feature hashes over its
    * word-3-gram shingles, the exact kernel the batch suite gates) is
    * the dedup key, and a doc is admitted iff no document with the
    * SAME signature arrived within the watermark horizon. Exact-bucket
    * matching admits hamming-distance-1 near-dups that d4's offline
    * pigeonhole join would pair — the standard stream/batch split:
    * the gate bounds the duplicate INFLOW cheaply with O(docs per
    * horizon) state, and the batch pipeline owns the transitive
    * near-dup clustering. Input needs (ts, doc_id, text). */
  def admitNovelDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val simhash = org.apache.spark.sql.functions.udf(
      (text: String) => graft.functions.Hashing.simhashPoly(
        graft.functions.Hashing.wordShingles(text, 3)))
    // Docs under 3 words have an EMPTY shingle set, so simhashPoly
    // degenerates to the constant 0 — keying on the signature alone
    // would silently reject every distinct short doc after the first
    // within the horizon. When no signature exists, exact text is the
    // only sound dedup key, so the state key branches on it.
    val dedupKey = org.apache.spark.sql.functions.udf { (text: String) =>
      val sh = graft.functions.Hashing.wordShingles(text, 3)
      if (sh.isEmpty) "raw:" + text
      else "sig:" + java.lang.Long.toHexString(graft.functions.Hashing.simhashPoly(sh))
    }
    docs.withColumn("simhash", simhash(col("text")))
      .withColumn("dedup_key", dedupKey(col("text")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("dedup_key")
      .drop("dedup_key")
  }

  /** Stream twin of the batch d18 incremental-dedup classification:
    * arriving documents (ts, doc_id, text) classify against a
    * PERSISTENT static corpus — exact (text equality), near (the same
    * LSH band index + exact-Jaccard ≥ 0.8 verify the batch suite
    * gates), or novel — using the batch kernels themselves
    * ([[graft.queries.DedupQueries]]' codegen shingles, band keys, and
    * sorted-hash intersect), so stream ≡ batch is structural, not
    * coincidental.
    *
    * Streaming shape: every candidate source is a STATELESS
    * stream-static equi-join (the corpus side is static; Spark re-plans
    * it per micro-batch, so a refreshed index takes effect on the next
    * batch), unioned with a per-arrival sentinel row so novel docs
    * survive, and ONE watermark-bounded (ts, doc_id) argmax aggregation
    * picks exact > near > novel with the batch twin's tie-break
    * (highest jaccard, then smallest corpus id). Multi-band duplicate
    * candidates are NOT distinct-ed (that would be stateful); repeated
    * (cand, j) rows cannot change an argmax. State is therefore the
    * aggregation's groups within the watermark horizon — O(arrivals
    * per horizon), independent of both stream length and corpus size. */
  def classifyArrivals(arrivals: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.queries.DedupQueries.{bandKeysUdf, docShinglesOf, intersectUdf, withShingles}
    val a = arrivals.withWatermark("ts", "2 hours")
    val interned = docShinglesOf(corpus)
      .select(col("doc_id").as("cand"),
        array_sort(transform(filter(col("sh"), s => s.isNotNull),
          s => xxhash64(s))).as("cshi"),
        col("sz").as("csz"))
    val cBands = docShinglesOf(corpus)
      .select(col("doc_id").as("cand"), posexplode(bandKeysUdf(col("sh"))))
      .toDF("cand", "band", "key")
    // exact: stream-static equi-join on the text
    val exact = a.join(corpus.select(col("doc_id").as("cand"), col("text")), Seq("text"))
      .select(col("ts"), col("doc_id"), lit(2).as("pri"), col("cand"), lit(1.0).as("j"))
    // near: band-key candidates, verified with the exact Jaccard kernel
    val ash = withShingles(a)
      .withColumn("ashi", array_sort(transform(
        filter(col("sh"), s => s.isNotNull), s => xxhash64(s))))
    val near = ash
      .select(col("ts"), col("doc_id"), col("ashi"), col("sz"),
        posexplode(bandKeysUdf(col("sh"))).as(Seq("band", "key")))
      .join(cBands, Seq("band", "key"))
      .join(interned, Seq("cand"))
      .withColumn("inter", intersectUdf(col("ashi"), col("cshi")))
      .withColumn("j", col("inter") / (col("sz") + col("csz") - col("inter")))
      .filter(col("j") >= 0.8)
      // the batch verify emits round(j, 4) — the argmax and the output
      // must see the same rounded score to tie-break identically
      .select(col("ts"), col("doc_id"), lit(1).as("pri"), col("cand"),
        round(col("j"), 4).as("j"))
    // sentinel: every arrival classifies, candidates or not
    val sentinel = a.select(col("ts"), col("doc_id"),
      lit(0).as("pri"), lit(-1L).as("cand"), lit(-1.0).as("j"))
    exact.unionByName(near).unionByName(sentinel)
      .groupBy(col("ts"), col("doc_id"))
      .agg(max(struct(col("pri"), coalesce(col("j"), lit(-1.0)).as("j"),
        (-col("cand")).as("negc"), col("cand"))).as("b"))
      .select(col("doc_id"),
        when(col("b.pri") === 2, lit("exact"))
          .when(col("b.pri") === 1, lit("near"))
          .otherwise(lit("novel")).as("status"),
        when(col("b.pri") > 0, col("b.cand")).as("match_id"),
        when(col("b.pri") === 2, lit(1.0))
          .when(col("b.pri") === 1, col("b.j")).as("similarity"))
  }

  /** Stream twin of the chrome-robust crawl classification (e30):
    * arrivals carry RAW MARKUP (`ts`, `doc_id`, `html`) — the crawl
    * shape — and extraction runs MAP-SIDE as the same staged pure
    * expressions as batch t47 (stateless: no state beyond
    * [[classifyArrivals]]' one group per arrival), reducing each page
    * to its chrome-invariant content (kept blocks 3+) before the
    * exact/near/novel classify against the extracted corpus. Two
    * crawls of one article with different page bytes classify exact
    * on content in-stream, exactly as the batch gate proves. */
  def classifyCrawlArrivals(arrivals: DataFrame, corpusPages: DataFrame): DataFrame = {
    import graft.functions.Html
    def contentOf(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_join(slice(split(Html.joinedText(Html.keptBlocks(
        Html.cleanedBlocks(html))), "\n"), 3, Int.MaxValue), "\n")
    classifyArrivals(
      arrivals.select(col("ts"), col("doc_id"), contentOf(col("html")).as("text")),
      corpusPages.select(col("doc_id"), contentOf(col("html")).as("text")))
  }

  /** Stream twin of the batch d26 substring-admission gate: arrivals
    * (ts, doc_id, text) assessed against the LANDED corpus gram index
    * (static side — a refreshed landing takes effect on the next
    * micro-batch) plus the corpus text table for byte verification.
    *
    * Streaming shape: one O(L) gram pass per arrival (the batch
    * kernel, [[graft.functions.Hashing.gramHashes]]) with the SAME
    * per-document hot-hash cap as the batch operator — per-document,
    * not per-batch, exactly so the verdict is identical no matter how
    * arrivals are micro-batched; a stateless stream-static equi-join
    * on the 8-byte hash; a stream-static join to the corpus text for
    * the 60-char byte check (per-candidate substring here is fine: a
    * serving micro-batch carries few candidates, unlike the batch
    * backfill which uses the one-pass slicer); a sentinel per arrival
    * so novel docs survive; and ONE watermark-bounded (ts, doc)
    * aggregation that collects the verified matches and runs the
    * merge — runs by (partner, offset-delta), interval unions,
    * best-partner, integer-exact verdict — locally per document
    * (bounded by the doc's own match count). State is O(arrivals per
    * horizon), independent of stream length and corpus size. */
  def admitArrivalsBySubstring(arrivals: DataFrame, index: DataFrame,
      corpusDocs: DataFrame): DataFrame = {
    val K = 60
    val cap = graft.queries.DedupQueries.DfCap
    val gramsU = udf((t: String) => {
      val hs = graft.functions.Hashing.gramHashes(t, K)
      val hot = hs.groupBy(identity).collect { case (h, o) if o.length > cap => h }.toSet
      hs.zipWithIndex.collect { case (h, i) if !hot.contains(h) => (i, h) }
    })
    val a = arrivals.withWatermark("ts", "2 hours")
      .filter(col("text").isNotNull && length(col("text")) >= K)
      .withColumn("len", length(col("text")))
    val cand = a.select(col("ts"), col("doc_id"), col("len"), col("text"),
        explode(gramsU(col("text"))).as("ph"))
      .select(col("ts"), col("doc_id"), col("len"), col("text"),
        col("ph._1").as("ib"), col("ph._2").as("h"))
      .join(index.select(col("h"), col("doc_id").as("c_id"), col("i0").as("ic")), Seq("h"))
    val ver = cand
      .join(corpusDocs.select(col("doc_id").as("c_id"), col("text").as("ctext")), Seq("c_id"))
      .filter(expr(s"substring(text, CAST(ib + 1 AS INT), $K)" +
        s" = substring(ctext, CAST(ic + 1 AS INT), $K)"))
      .select(col("ts"), col("doc_id"), col("len"), col("c_id"), col("ib"), col("ic"))
    val sentinel = a.select(col("ts"), col("doc_id"), col("len"),
      lit(-1L).as("c_id"), lit(-1).as("ib"), lit(-1).as("ic"))
    val mergeU = udf((len: Int, ms: Seq[org.apache.spark.sql.Row]) =>
      substringVerdict(len, ms.filter(_.getLong(0) >= 0)
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))), K))
    ver.unionByName(sentinel)
      .groupBy(col("ts"), col("doc_id"), col("len"))
      .agg(collect_list(struct(col("c_id"), col("ib"), col("ic"))).as("ms"))
      .select(col("doc_id"), mergeU(col("len"), col("ms")).as("r"))
      .select(col("doc_id"), col("r._1").as("n_partners"),
        col("r._2").as("best_match"), col("r._3").as("best_shared"),
        col("r._4").as("dup_chars"), col("r._5").as("coverage_pct"),
        col("r._6").as("admit"))
  }

  /** d34's streaming twin — winnow-index admission over an unbounded
    * arrival stream: each arrival winnows LOCALLY in one UDF pass
    * (selection is per-document — t45's exact encoding, including the
    * rightmost-tie rule and the per-(doc, hash) ≤ 64 probe cap, so the
    * verdict is micro-batch-invariant), joins the LANDED fingerprint
    * index and the static corpus text statelessly, and folds ONE
    * watermark-bounded aggregation per (ts, doc) into the matched /
    * n_partners / best-partner verdict. State is O(arrivals per
    * horizon); the corpus never enters state. */
  def admitArrivalsByFingerprint(arrivals: DataFrame, index: DataFrame,
      corpusDocs: DataFrame): DataFrame = {
    val K = 20
    val cap = graft.queries.DedupQueries.DfCap
    val winnowU = udf((t: String) => {
      val ENC = 1L << 22
      // same doc-size contract as TextQueries.winnowedFingerprints:
      // the single-Long encoding holds positions < 2^22 only
      require(t.length - K + 1 <= ENC,
        s"winnow: arrival exceeds the 2^22 gram-position encoding limit")
      // the shared one-pass deque kernel (r17) — the same distinct
      // window-min set the previous per-window argmin scan produced,
      // decoded back to (pos, hash)
      val sel = graft.functions.Hashing.winnowedEncoded(t, K, 8)
        .map(e => ((ENC - 1 - e % ENC).toInt, e / ENC)).toSeq
      val hot = sel.groupBy(_._2).collect { case (h, o) if o.length > cap => h }.toSet
      sel.filterNot(x => hot.contains(x._2))
    })
    val a = arrivals.withWatermark("ts", "2 hours")
      .filter(col("text").isNotNull && length(col("text")) >= K + 7)
    val cand = a.select(col("ts"), col("doc_id"), col("text"),
        explode(winnowU(col("text"))).as("ph"))
      .select(col("ts"), col("doc_id"), col("text"),
        col("ph._1").as("p1"), col("ph._2").as("h"))
      .join(index.select(col("fp_h").as("h"), col("doc_id").as("c_id"),
        col("fp_pos").as("p2")), Seq("h"))
    val ver = cand
      .join(corpusDocs.select(col("doc_id").as("c_id"), col("text").as("ctext")),
        Seq("c_id"))
      .filter(expr(s"substring(text, CAST(p1 + 1 AS INT), $K)" +
        s" = substring(ctext, CAST(p2 + 1 AS INT), $K)"))
      .select(col("ts"), col("doc_id"), col("c_id"))
    val sentinel = a.select(col("ts"), col("doc_id"), lit(-1L).as("c_id"))
    val bestU = udf((ms: Seq[Long]) => {
      val real = ms.filter(_ >= 0)
      if (real.isEmpty) (false, 0L, None: Option[Long], None: Option[Long])
      else {
        val by = real.groupBy(identity).map { case (c, o) => (c, o.length.toLong) }
        val (bc, bn) = by.toSeq.minBy { case (c, n) => (-n, c) }
        (true, by.size.toLong, Some(bc): Option[Long], Some(bn): Option[Long])
      }
    })
    ver.unionByName(sentinel)
      .groupBy(col("ts"), col("doc_id"))
      .agg(collect_list(col("c_id")).as("ms"))
      .select(col("doc_id"), bestU(col("ms")).as("r"))
      .select(col("doc_id"), col("r._1").as("matched"), col("r._2").as("n_partners"),
        col("r._3").as("best_id"), col("r._4").as("best_shared"))
  }

  /** The substring-axis verdict math shared by
    * [[admitArrivalsBySubstring]] and [[ingestVerdict]] — the batch
    * d26 semantics computed locally per document over its verified
    * (partner, arrival-offset, corpus-offset) matches: runs by
    * (partner, offset delta), interval unions (per pair and across all
    * partners), best single partner by (shared, smallest id), and the
    * integer-exact coverage admit. Returns (n_partners, best_match,
    * best_shared, dup_chars, coverage_pct, admit). */
  private[graft] def substringVerdict(len: Int, matches: Seq[(Long, Int, Int)],
      K: Int): (Long, Option[Long], Long, Long, Double, Boolean) = {
    val spans: Seq[(Long, Int, Int)] = matches
      .groupBy(r => (r._1, r._2 - r._3)).toSeq
      .flatMap { case ((cid, _), rows) =>
        val ibs = rows.map(_._2).distinct.sorted
        val runs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        var s0 = ibs.head; var prev = ibs.head
        for (i <- ibs.tail) {
          if (i == prev + 1) prev = i
          else { runs += ((s0, prev)); s0 = i; prev = i }
        }
        runs += ((s0, prev))
        runs.map { case (s1, e1) => (cid, s1, e1 + K - 1) }
      }
    def unionLen(iv: Seq[(Int, Int)]): Long = {
      var tot = 0L; var curS = 0; var curE = -2
      for ((s1, e1) <- iv.sortBy(identity)) {
        if (s1 > curE + 1) {
          if (curE >= curS) tot += curE - curS + 1
          curS = s1; curE = e1
        } else curE = math.max(curE, e1)
      }
      if (curE >= curS) tot += curE - curS + 1
      tot
    }
    val perPair = spans.groupBy(_._1).view
      .mapValues(sp => unionLen(sp.map(x => (x._2, x._3)))).toSeq
    val dup = unionLen(spans.map(x => (x._2, x._3)))
    if (perPair.isEmpty) (0L, Option.empty[Long], 0L, 0L, 0.0, true)
    else {
      val (bestC, bestS) = perPair.maxBy { case (c, s) => (s, -c) }
      val cov = BigDecimal(dup.toDouble / len)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (perPair.size.toLong, Some(bestC), bestS, dup, cov, dup * 2 < len)
    }
  }

  /** Stream twin of the batch e15 composed ingest verdict: each
    * arrival (ts, doc_id, text) is assessed on ALL THREE duplication
    * axes against static corpus-side inputs — exact/near against the
    * LANDED band index (d24's artifact) with the d2 Jaccard verify,
    * substring coverage against the LANDED gram index (d26's
    * artifact), semantic against the corpus embedding set — and ONE
    * verdict row per arrival emits status, per-axis evidence, and the
    * final admit bit.
    *
    * Streaming shape — the whole point of the composition: every
    * evidence source is a STATELESS stream-static join (index
    * refreshes take effect on the next micro-batch), the sources
    * union into one tagged evidence stream, and a SINGLE
    * watermark-bounded (ts, doc_id) aggregation folds all axes into
    * the verdict — so state is one group per arrival in the horizon
    * regardless of how many axes fire, and the verdict is
    * micro-batch-invariant (every cap is per-document; unioned
    * duplicates cannot change an argmax; the substring merge is
    * order-free). `arrivalVecs`/`corpusVecs` carry (vec_id,
    * embedding); an arrival with no vector simply has no semantic
    * evidence, mirroring the batch left join. `cacheScope` is the
    * caller's fixture dir: the semantic axis's static-side cache
    * registers under it so `Caches.release(spark, dir)` reclaims the
    * cached corpus-vector projection after the stream is done. */
  def ingestVerdict(arrivals: DataFrame, corpusDocs: DataFrame,
      bandIndex: DataFrame, gramIndex: DataFrame,
      arrivalVecs: DataFrame, corpusVecs: DataFrame,
      cacheScope: String): DataFrame = {
    val a = arrivals.withWatermark("ts", "2 hours")
      .withColumn("len", coalesce(length(col("text")), lit(0)))
    val evidence = dedupEvidence(a, corpusDocs, bandIndex, gramIndex,
      arrivalVecs, corpusVecs, cacheScope)
    ingestFold(evidence)
  }

  /** The three-dedup-axis evidence union (axes 0–4) factored out of
    * [[ingestVerdict]] so [[fullIngestVerdict]] composes the same
    * stateless stream-static sources with the language/perplexity/
    * domain axes before the ONE shared fold. `a` is the
    * already-watermarked arrival frame carrying (ts, doc_id, text,
    * len) (extra columns pass through untouched). */
  private def dedupEvidence(a: DataFrame, corpusDocs: DataFrame,
      bandIndex: DataFrame, gramIndex: DataFrame,
      arrivalVecs: DataFrame, corpusVecs: DataFrame,
      cacheScope: String): DataFrame = {
    import graft.queries.DedupQueries.{bandKeysUdf, docShinglesOf, dotExpr,
      intersectUdf, norm2Expr, withShingles}
    val K = 60
    // axis 3 — exact: stream-static text equi-join (content-hash
    // bucket probe at scale); the fold takes min(partner)
    val exact = a.join(corpusDocs.select(col("doc_id").as("cand"), col("text")), Seq("text"))
      .select(col("ts"), col("doc_id"), col("len"), lit(3).as("axis"),
        col("cand"), lit(-1).as("ib"), lit(-1).as("ic"), lit(1.0).as("score"))
    // axis 2 — near: candidates from the LANDED band index, verified
    // with the exact Jaccard kernel against corpus shingles
    val interned = docShinglesOf(corpusDocs)
      .select(col("doc_id").as("cand"),
        array_sort(transform(filter(col("sh"), s => s.isNotNull),
          s => xxhash64(s))).as("cshi"),
        col("sz").as("csz"))
    val ash = withShingles(a)
      .withColumn("ashi", array_sort(transform(
        filter(col("sh"), s => s.isNotNull), s => xxhash64(s))))
    val near = ash
      .select(col("ts"), col("doc_id"), col("len"), col("ashi"), col("sz"),
        posexplode(bandKeysUdf(col("sh"))).as(Seq("band", "key")))
      .join(bandIndex.select(col("doc_id").as("cand"), col("band"), col("key")),
        Seq("band", "key"))
      .join(interned, Seq("cand"))
      .withColumn("inter", intersectUdf(col("ashi"), col("cshi")))
      .withColumn("j", col("inter") / (col("sz") + col("csz") - col("inter")))
      .filter(col("j") >= 0.8)
      .select(col("ts"), col("doc_id"), col("len"), lit(2).as("axis"),
        col("cand"), lit(-1).as("ib"), lit(-1).as("ic"), round(col("j"), 4).as("score"))
    // axis 1 — substring: the admitArrivalsBySubstring evidence path
    // (per-DOCUMENT hot cap → micro-batch-invariant), byte-verified
    val cap = graft.queries.DedupQueries.DfCap
    val gramsU = udf((t: String) => {
      val hs = graft.functions.Hashing.gramHashes(t, K)
      val hot = hs.groupBy(identity).collect { case (h, o) if o.length > cap => h }.toSet
      hs.zipWithIndex.collect { case (h, i) if !hot.contains(h) => (i, h) }
    })
    val sub = a.filter(col("text").isNotNull && length(col("text")) >= K)
      .select(col("ts"), col("doc_id"), col("len"), col("text"),
        explode(gramsU(col("text"))).as("ph"))
      .select(col("ts"), col("doc_id"), col("len"), col("text"),
        col("ph._1").as("ib"), col("ph._2").as("h"))
      .join(gramIndex.select(col("h"), col("doc_id").as("cand"), col("i0").as("ic")), Seq("h"))
      .join(corpusDocs.select(col("doc_id").as("cand"), col("text").as("ctext")), Seq("cand"))
      .filter(expr(s"substring(text, CAST(ib + 1 AS INT), $K)" +
        s" = substring(ctext, CAST(ic + 1 AS INT), $K)"))
      .select(col("ts"), col("doc_id"), col("len"), lit(1).as("axis"),
        col("cand"), col("ib"), col("ic"), lit(-1.0).as("score"))
    // axis 4 — semantic: arrival's own vector by id (stream-static),
    // probed against the IVF-bucketed corpus vector index — the same
    // coarse-quantizer discipline as d14/x19 (g = ⌊√(N/50)+0.5⌋ seed
    // groups, cp = 1+⌈3·MaxProbes/g⌉ probes), NOT a crossJoin: each
    // arrival assigns to its cp nearest coarse groups map-side (the
    // driver holds only the √(N/50)-row coarse level), equi-joins the
    // gid-keyed corpus index, and exact-cosines candidates only — per-
    // arrival work is O(cp·N/K2) = O(√N), vs the previous brute force's
    // O(N) full-corpus scan per trigger, the one shape that dies at
    // 100 TB of corpus vectors. Parity contract, honestly: on
    // gate-scale fixtures the coarse cover is complete (cp ≥ #groups),
    // so candidates ≡ all-pairs and the stream verdict is PROVEN
    // row-identical to batch e15 (StreamingSpec). Beyond gate scale the
    // two sides are INDEPENDENTLY approximate: batch e15 rides d14's
    // two-level index (fine cells under shared top-8 coarse cells,
    // sized from the full embeddings table) while the stream probes a
    // one-level coarse grouping over corpus vectors only, so once
    // either cover is partial the candidate sets can differ in both
    // directions — each side keeps its own documented nprobe-style
    // recall contract, and exactness of whatever IS matched holds on
    // both (same codegen dot kernel, same ≥0.45-then-round discipline).
    import graft.queries.DedupQueries.{nearestCells, MaxProbes}
    val cvT = corpusVecs.select(col("vec_id").as("cand"),
      transform(col("embedding"), x => x.cast("double")).as("vc"))
      .withColumn("n2c", norm2Expr(col("vc")))
    val nCorpus = cvT.count()
    val gSem = math.max(1L, math.floor(math.sqrt(nCorpus / 50.0) + 0.5).toLong)
    val coarseSem: Array[(Long, Array[Double], Double)] = cvT
      .filter(col("cand") % lit(50L * gSem) === 1)
      .select(col("cand"), col("vc"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0), v, graft.functions.VectorOps.norm2(v))
      }
      .sortBy(_._1)
    val cpSem = 1 + math.ceil(3.0 * MaxProbes / gSem).toInt
    // seedless-corpus escape hatch: a corpus too small to contain any
    // vec_id % 50g == 1 seed degenerates to ONE bucket (gid −1 on both
    // sides) — a full scan of a corpus that tiny, never of a real one
    val gid1U = udf((v: Seq[Double]) =>
      if (coarseSem.isEmpty) -1L
      else nearestCells(v, coarseSem, 1).headOption.getOrElse(-1L))
    val probesU = udf((v: Seq[Double]) =>
      if (coarseSem.isEmpty) { if (v == null) Seq.empty[Long] else Seq(-1L) }
      else nearestCells(v, coarseSem, cpSem))
    // the static side: the gid-keyed corpus index, CACHED at stream
    // construction so gid assignment (a UDF over every corpus vector)
    // runs once, not once per micro-batch — without the cache each
    // trigger re-scanned and re-assigned the full corpus, making the
    // per-trigger static cost O(N) despite the O(√N) per-arrival math.
    // The cache is the in-memory stand-in for the LANDED
    // cid-partitioned artifact (x19/x22's store shape) and lives for
    // the stream's lifetime; an index refresh means rebuilding the
    // stream, at which point the new static side takes effect on its
    // first micro-batch. Registered under the caller's `cacheScope`
    // (its fixture dir) so Caches.release reclaims it — a bare
    // .cache() pinned one full corpus-vector copy per stream
    // construction for the session's lifetime (r14 advice).
    val cv = graft.queries.Caches.trackCached(cacheScope,
      cvT.withColumn("gid", gid1U(col("vc"))))
    val av = arrivalVecs.select(col("vec_id").as("doc_id"),
      transform(col("embedding"), x => x.cast("double")).as("va"))
      .withColumn("n2a", norm2Expr(col("va")))
    val sem = a.join(av, Seq("doc_id"))
      .withColumn("gid", explode(probesU(col("va"))))
      .join(cv, Seq("gid"))
      .withColumn("cos", dotExpr(col("va"), col("vc")) / sqrt(col("n2a") * col("n2c")))
      .filter(col("cos") >= 0.45)
      .select(col("ts"), col("doc_id"), col("len"), lit(4).as("axis"),
        col("cand"), lit(-1).as("ib"), lit(-1).as("ic"), round(col("cos"), 4).as("score"))
    // axis 0 — sentinel: every arrival gets a verdict row
    val sentinel = a.select(col("ts"), col("doc_id"), col("len"), lit(0).as("axis"),
      lit(-1L).as("cand"), lit(-1).as("ib"), lit(-1).as("ic"), lit(-1.0).as("score"))
    exact.unionByName(near).unionByName(sub).unionByName(sem).unionByName(sentinel)
  }

  /** e15's verdict fold: ONE watermark-bounded (ts, doc_id, len)
    * aggregation over the tagged evidence union. */
  private def ingestFold(evidence: DataFrame): DataFrame = {
    val K = 60
    val verdictU = udf((len: Int, ms: Seq[org.apache.spark.sql.Row]) => {
      def cand(r: org.apache.spark.sql.Row) = r.getLong(1)
      def score(r: org.apache.spark.sql.Row) = r.getDouble(4)
      val byAxis = ms.groupBy(_.getInt(0))
      val exacts = byAxis.getOrElse(3, Nil)
      val nears = byAxis.getOrElse(2, Nil)
      val (status, matchId, sim) =
        if (exacts.nonEmpty) ("exact", Some(exacts.map(cand).min), Some(1.0))
        else if (nears.nonEmpty) {
          val b = nears.maxBy(r => (score(r), -cand(r)))
          ("near", Some(cand(b)), Some(score(b)))
        } else ("novel", Option.empty[Long], Option.empty[Double])
      val (nPart, subMatch, _, subDup, subCov, subAdmit) = substringVerdict(len,
        byAxis.getOrElse(1, Nil).map(r => (cand(r), r.getInt(2), r.getInt(3))), K)
      val sems = byAxis.getOrElse(4, Nil)
      val (semMatch, semCos) =
        if (sems.isEmpty) (Option.empty[Long], Option.empty[Double])
        else {
          val b = sems.maxBy(r => (score(r), -cand(r)))
          (Some(cand(b)), Some(score(b)))
        }
      (status, matchId, sim, nPart, subMatch, subDup, subCov, subAdmit,
        semMatch, semCos, status == "novel" && subAdmit && semMatch.isEmpty)
    })
    evidence
      .groupBy(col("ts"), col("doc_id"), col("len"))
      .agg(collect_list(struct(col("axis"), col("cand"), col("ib"), col("ic"),
        col("score"))).as("ms"))
      .select(col("doc_id"), verdictU(col("len"), col("ms")).as("r"))
      .select(col("doc_id"), col("r._1").as("status"), col("r._2").as("match_id"),
        col("r._3").as("similarity"), col("r._4").as("sub_partners"),
        col("r._5").as("sub_match"), col("r._6").as("sub_dup_chars"),
        col("r._7").as("sub_coverage"), col("r._8").as("sub_admit"),
        col("r._9").as("sem_match"), col("r._10").as("sem_cosine"),
        col("r._11").as("admit"))
  }

  /** Stream twin of the batch e34 SIX-axis admission verdict: the
    * three dedup axes ([[dedupEvidence]] — unchanged) composed with
    * language, trigram-perplexity, and domain-policy evidence, all
    * STATELESS stream-static sources folding through the ONE
    * watermark-bounded (ts, doc_id) aggregation — state stays one
    * group per arrival in the horizon however many axes fire, and the
    * e34 axis semantics were chosen for exactly this shape (the domain
    * cap reads the LANDED history store, never a per-domain rank over
    * the stream).
    *
    * Static sides: `langProfile` is the landed t39 profile (bounded —
    * collected driver-side so the dense zero-fill argmax runs map-side
    * in one UDF, the identifyLanguage discipline); `c3Counts` is the
    * landed t59 trigram store — its four context tables derive once,
    * are cached under `cacheScope`, and ride CapGate (vocabulary-sized
    * joins; the (N, V) scalar is collected at construction); the
    * blocklist broadcasts (curated-small); `domainHist` rides CapGate
    * (domain-cardinality). Arrivals carry (ts, doc_id, text, source,
    * lang) — source feeds the URL construction, lang the planted-text
    * fixture transform (both map-side column algebra). The perplexity
    * prep (type regroup + LmDocTypeCap truncation + UTF-8 sort) runs
    * map-side per arrival, scoreArrivals' discipline, so join probe
    * and state are cap-bounded for book-length arrivals. */
  def fullIngestVerdict(arrivals: DataFrame, corpusDocs: DataFrame,
      bandIndex: DataFrame, gramIndex: DataFrame,
      arrivalVecs: DataFrame, corpusVecs: DataFrame,
      langProfile: DataFrame, c3Counts: DataFrame,
      blocklist: DataFrame, domainHist: DataFrame,
      cacheScope: String): DataFrame = {
    val a = arrivals.withWatermark("ts", "2 hours")
      .withColumn("len", coalesce(length(col("text")), lit(0)))
    def widen(ev: DataFrame): DataFrame = ev
      .withColumn("s1", lit(null).cast("string"))
      .withColumn("s2", lit(null).cast("string"))
      .withColumn("s3", lit(null).cast("string"))
      .withColumn("lv", lit(-1L))
    val dedup = widen(dedupEvidence(a, corpusDocs, bandIndex, gramIndex,
      arrivalVecs, corpusVecs, cacheScope))
    // axis 5 — language: profile collected driver-side (≤ 200 rows per
    // language by construction), the batch dense-argmax replayed
    // map-side; ties go to the smallest language name (langs ascending
    // + strict-greater maxBy), the batch rank window's tie-break
    val profRows = langProfile.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val gramW: Map[String, Seq[(String, Long)]] =
      profRows.groupBy(_._1).view.mapValues(_.map(p => (p._3, p._2)).toSeq).toMap
    val langs: Seq[String] = profRows.map(_._3).distinct.sorted.toSeq
    val langU = udf((t: String) =>
      if (t == null || t.length < 3) Option.empty[(String, Long, Long)]
      else {
        val sums = scala.collection.mutable.Map.empty[String, Long]
        var i = 0
        while (i <= t.length - 3) {
          gramW.get(t.substring(i, i + 3)).foreach(_.foreach { case (l, w) =>
            sums.update(l, sums.getOrElse(l, 0L) + w) })
          i += 1
        }
        val dense = langs.map(l => l -> sums.getOrElse(l, 0L))
        val (bestL, bestS) = dense.maxBy(_._2)
        val second = dense.collect { case (l, s) if l != bestL => s }
          .maxOption.getOrElse(0L)
        Some((bestL, bestS, bestS - second))
      })
    val lang = a
      .filter(col("text").isNotNull && length(col("text")) >= 3)
      .select(col("ts"), col("doc_id"), col("len"),
        langU(graft.queries.PipelineQueries.plantedLangText).as("lr"))
      .filter(col("lr").isNotNull)
      .select(col("ts"), col("doc_id"), col("len"), lit(5).as("axis"),
        col("lr._2").as("cand"), lit(-1).as("ib"), lit(-1).as("ic"),
        lit(-1.0).as("score"), col("lr._1").as("s1"),
        lit(null).cast("string").as("s2"), lit(null).cast("string").as("s3"),
        col("lr._3").as("lv"))
    // axis 6 — perplexity vs the landed c3 store: map-side type
    // regroup + cap (scoreArrivals' discipline), five CapGated
    // stream-static LEFT joins, the batch interpolation expression
    // verbatim; (N, V) collected once at construction
    def cmpUtf8(x: String, y: String): Int =
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cap = graft.queries.TextQueries.LmDocTypeCap.toInt
    val prep3U = udf((t: String) => {
      val w = t.split(" ", -1)
      if (w.length < 3) Seq.empty[Lm3Type]
      else (0 until w.length - 2).map(i => (w(i), w(i + 1), w(i + 2)))
        .groupBy(identity).toSeq
        .sortWith { case ((ka, _), (kb, _)) =>
          val c1 = cmpUtf8(ka._1, kb._1)
          if (c1 != 0) c1 < 0 else {
            val c2 = cmpUtf8(ka._2, kb._2)
            if (c2 != 0) c2 < 0 else cmpUtf8(ka._3, kb._3) < 0
          }
        }
        .take(cap)
        .map { case ((w1, w2, w3), occ) => Lm3Type(w1, w2, w3, occ.size.toLong) }
    })
    val c3c = graft.queries.Caches.trackCached(cacheScope, c3Counts)
    def gated(df: DataFrame): DataFrame = graft.operators.CapGate.gate(
      graft.queries.Caches.trackCached(cacheScope, df)).frame
    val g3 = gated(c3c)
    val gCtx2 = gated(c3c.groupBy("w1", "w2").agg(sum("c3").cast("long").as("ctx2")))
    val gMid = gated(c3c.groupBy("w2", "w3").agg(sum("c3").cast("long").as("cmid")))
    val gC1ctx = gated(c3c.groupBy("w2").agg(sum("c3").cast("long").as("c1ctx")))
    val gUni = gated(c3c.groupBy("w3").agg(sum("c3").cast("long").as("c1")))
    val nvRow = c3c.agg(sum("c3").cast("long"), countDistinct("w3").cast("long")).head()
    val nnv: Long = nvRow.getLong(0) + nvRow.getLong(1)
    val ppl = a.filter(col("text").isNotNull)
      .select(col("ts"), col("doc_id"), col("len"),
        explode(prep3U(col("text"))).as("k"))
      .select(col("ts"), col("doc_id"), col("len"), col("k.w1").as("w1"),
        col("k.w2").as("w2"), col("k.w3").as("w3"), col("k.m").as("m"))
      .join(g3, Seq("w1", "w2", "w3"), "left")
      .join(gCtx2, Seq("w1", "w2"), "left")
      .join(gMid, Seq("w2", "w3"), "left")
      .join(gC1ctx, Seq("w2"), "left")
      .join(gUni, Seq("w3"), "left")
      .select(col("ts"), col("doc_id"), col("len"), lit(6).as("axis"),
        lit(-1L).as("cand"), lit(-1).as("ib"), lit(-1).as("ic"),
        (when(col("ctx2").isNull, lit(0.0))
          .otherwise(lit(0.5) * (coalesce(col("c3"), lit(0L)).cast("double") /
            col("ctx2").cast("double"))) +
        when(col("c1ctx").isNull, lit(0.0))
          .otherwise(lit(0.3) * (coalesce(col("cmid"), lit(0L)).cast("double") /
            col("c1ctx").cast("double"))) +
        lit(0.2) * ((coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double") /
          lit(nnv).cast("double"))).as("score"),
        col("w1").as("s1"), col("w2").as("s2"), col("w3").as("s3"),
        col("m").as("lv"))
    // axis 7 — domain policy: map-side URL parse, broadcast blocklist
    // membership, CapGated landed-history lookup — fully stateless
    val dom = graft.functions.Url.withParsed(
        a.select(col("ts"), col("doc_id"), col("len"), col("source"))
          .withColumn("url",
            graft.functions.Url.urlOf(col("doc_id"), col("source"))))
      .select(col("ts"), col("doc_id"), col("len"), col("reg_domain"))
      .join(broadcast(blocklist.select(col("reg_domain"),
        col("is_blocked"))), Seq("reg_domain"), "left")
      .join(graft.operators.CapGate.gate(domainHist
        .select(col("reg_domain"), col("n_docs").as("hist_docs"))).frame,
        Seq("reg_domain"), "left")
      .select(col("ts"), col("doc_id"), col("len"), lit(7).as("axis"),
        coalesce(col("hist_docs"), lit(0L)).as("cand"),
        lit(-1).as("ib"), lit(-1).as("ic"), lit(-1.0).as("score"),
        col("reg_domain").as("s1"), lit(null).cast("string").as("s2"),
        lit(null).cast("string").as("s3"),
        when(col("is_blocked"), 1L).otherwise(0L).as("lv"))
    val K = 60
    val pplBits = graft.queries.DedupQueries.E34PplAdmitBits
    val domCap = graft.queries.DedupQueries.E34DomainCapDocs
    val fullU = udf((len: Int, ms: Seq[org.apache.spark.sql.Row]) => {
      def cand(r: org.apache.spark.sql.Row) = r.getLong(1)
      def score(r: org.apache.spark.sql.Row) = r.getDouble(4)
      val byAxis = ms.groupBy(_.getInt(0))
      val exacts = byAxis.getOrElse(3, Nil)
      val nears = byAxis.getOrElse(2, Nil)
      val (status, matchId, sim) =
        if (exacts.nonEmpty) ("exact", Some(exacts.map(cand).min), Some(1.0))
        else if (nears.nonEmpty) {
          val b = nears.maxBy(r => (score(r), -cand(r)))
          ("near", Some(cand(b)), Some(score(b)))
        } else ("novel", Option.empty[Long], Option.empty[Double])
      val (nPart, subMatch, _, subDup, subCov, subAdmit) = substringVerdict(len,
        byAxis.getOrElse(1, Nil).map(r => (cand(r), r.getInt(2), r.getInt(3))), K)
      val sems = byAxis.getOrElse(4, Nil)
      val (semMatch, semCos) =
        if (sems.isEmpty) (Option.empty[Long], Option.empty[Double])
        else {
          val b = sems.maxBy(r => (score(r), -cand(r)))
          (Some(cand(b)), Some(score(b)))
        }
      val dedupAdmit = status == "novel" && subAdmit && semMatch.isEmpty
      // axis 5 — at most one row per arrival by construction;
      // duplicate deliveries carry identical values, head is safe
      val langRow = byAxis.getOrElse(5, Nil).headOption
      val (predLang, langMargin) =
        (langRow.map(_.getString(5)), langRow.map(_.getLong(8)))
      val langOk = predLang.nonEmpty
      // axis 6 — the batch fold: dedupe delivered types by key, sort
      // UTF-8 by (w1, w2, w3), sequential m·log2(p) sum, HALF_UP 6
      val tys = byAxis.getOrElse(6, Nil)
        .groupBy(r => (r.getString(5), r.getString(6), r.getString(7)))
        .map(_._2.head).toSeq
        .sortWith { (x, y) =>
          val c1 = cmpUtf8(x.getString(5), y.getString(5))
          if (c1 != 0) c1 < 0 else {
            val c2 = cmpUtf8(x.getString(6), y.getString(6))
            if (c2 != 0) c2 < 0 else cmpUtf8(x.getString(7), y.getString(7)) < 0
          }
        }
      val xent =
        if (tys.isEmpty) Option.empty[Double]
        else {
          val nScored = tys.iterator.map(_.getLong(8)).sum
          val s = tys.foldLeft(0.0) { (acc, r) =>
            acc + r.getLong(8) * (StrictMath.log(r.getDouble(4)) /
              StrictMath.log(2.0))
          }
          Some(BigDecimal(-s / nScored)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      val pplOk = xent.forall(_ <= pplBits)
      // axis 7 — exactly one row per arrival (left joins preserve it)
      val domRow = byAxis.getOrElse(7, Nil).headOption
      val regDomain = domRow.flatMap(r =>
        if (r.isNullAt(5)) None else Some(r.getString(5)))
      val histDocs = domRow.map(cand).getOrElse(0L)
      val domainVerdict =
        if (domRow.exists(_.getLong(8) == 1L)) "blocked"
        else if (histDocs >= domCap) "over_cap"
        else "ok"
      val domainOk = domainVerdict == "ok"
      (status, matchId, sim, nPart, subMatch, subDup, subCov, subAdmit,
        semMatch, semCos, dedupAdmit, predLang, langMargin, langOk, xent,
        pplOk, regDomain, histDocs, domainVerdict, domainOk,
        dedupAdmit && langOk && pplOk && domainOk)
    })
    dedup.unionByName(lang).unionByName(ppl).unionByName(dom)
      .groupBy(col("ts"), col("doc_id"), col("len"))
      .agg(collect_list(struct(col("axis"), col("cand"), col("ib"), col("ic"),
        col("score"), col("s1"), col("s2"), col("s3"), col("lv"))).as("ms"))
      .select(col("doc_id"), fullU(col("len"), col("ms")).as("r"))
      .select(col("doc_id"), col("r._1").as("status"), col("r._2").as("match_id"),
        col("r._3").as("similarity"), col("r._4").as("sub_partners"),
        col("r._5").as("sub_match"), col("r._6").as("sub_dup_chars"),
        col("r._7").as("sub_coverage"), col("r._8").as("sub_admit"),
        col("r._9").as("sem_match"), col("r._10").as("sem_cosine"),
        col("r._11").as("dedup_admit"), col("r._12").as("pred_lang"),
        col("r._13").as("lang_margin"), col("r._14").as("lang_ok"),
        col("r._15").as("xent3_bits"), col("r._16").as("ppl_ok"),
        col("r._17").as("reg_domain"), col("r._18").as("hist_docs"),
        col("r._19").as("domain_verdict"), col("r._20").as("domain_ok"),
        col("r._21").as("admit"))
  }

  /** Stream twin of the batch t39 language-ID gate: arrivals (ts,
    * doc_id, text) scored against the TRAINED profile (static side —
    * [[graft.queries.PipelineQueries.langProfileFor]]'s memoized
    * artifact; a refreshed profile takes effect on the next
    * micro-batch, the landed-index refresh contract). One trigram pass
    * per arrival; a STATELESS stream-static broadcast equi-join on the
    * gram (the profile is bounded — top-200 grams per language — so it
    * always broadcasts); a sentinel so gram-less arrivals still
    * verdict; ONE watermark-bounded (ts, doc) aggregation folding the
    * per-language sums + dense argmax + margin locally per document.
    * The language list is collected driver-side from the static
    * profile (≤ |languages| rows), so languages an arrival never hits
    * zero-fill exactly as the batch dense frame does — verdicts are
    * micro-batch-invariant (sums are associative, the fold is per
    * document). Positions are UTF-16-unit indexed (BMP parity with the
    * batch split-to-chars pass — the slicedGrams note). State is
    * O(arrivals per horizon), independent of corpus and stream size. */
  def identifyLanguage(arrivals: DataFrame, profile: DataFrame): DataFrame = {
    val langs = profile.select("plang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val trigramsU = udf((t: String) =>
      if (t == null || t.length < 3) Seq.empty[String]
      else (0 to t.length - 3).map(i => t.substring(i, i + 3)))
    val a = arrivals.withWatermark("ts", "2 hours")
    val hits = a
      .select(col("ts"), col("doc_id"), explode(trigramsU(col("text"))).as("g"))
      .join(broadcast(profile.select(col("g"), col("plang"), col("w"))), Seq("g"))
      .select(col("ts"), col("doc_id"), col("plang"), col("w"))
    val sentinel = a.select(col("ts"), col("doc_id"),
      lit(null).cast("string").as("plang"), lit(0L).as("w"))
    val verdictU = udf((ev: Seq[org.apache.spark.sql.Row]) => {
      val sums = ev.filter(!_.isNullAt(0)).groupBy(_.getString(0))
        .map { case (l, rs) => l -> rs.map(_.getLong(1)).sum }
      // langs ascending + strict-greater replacement ⇒ ties go to the
      // smallest language name, the batch rank window's tie-break
      val dense = langs.map(l => l -> sums.getOrElse(l, 0L))
      if (dense.isEmpty) (null: String, 0L, 0L)
      else {
        val (bestL, bestS) = dense.maxBy(_._2)
        val second = dense.collect { case (l, s) if l != bestL => s }
          .maxOption.getOrElse(0L)
        (bestL, bestS, bestS - second)
      }
    })
    hits.unionByName(sentinel)
      .groupBy(col("ts"), col("doc_id"))
      .agg(collect_list(struct(col("plang"), col("w"))).as("ev"))
      .select(col("doc_id"), verdictU(col("ev")).as("r"))
      .select(col("doc_id"), col("r._1").as("pred_lang"),
        col("r._2").as("score"), col("r._3").as("margin"))
  }

  /** Streaming WET ingest — the extraction lifecycle's leg at crawl
    * cadence (e31's append driven by a stream): raw pages arrive as
    * markup (ts, doc_id, source, html) and the SAME staged pure
    * extraction expressions as the batch landing run map-side —
    * stateless: no watermark, no state store, no shuffle (a crawl
    * shard is a mapper at any scale) — emitting the WET artifact's
    * exact column set. Compose with [[sinkToParquet]] so each
    * micro-batch lands idempotently as its own delta directory:
    * base + streamed deltas is exactly the file layout e31 serves,
    * and StreamingSpec proves a stream-landed wave reads back
    * row-for-row equal to the batch-landed delta. */
  def extractArrivals(pages: DataFrame): DataFrame =
    graft.queries.TextQueries.extractStaged(pages)

  /** Streaming tokenizer serve — t52's stream twin: each arriving page
    * is charged its token count from the LANDED BPE model (t50's
    * versioned vocab artifact CapGated onto the stream; the JOIN
    * re-plans per micro-batch so a refreshed model's rows take effect,
    * but the gate's broadcast-or-shuffle decision is fixed at stream
    * construction). The word stream LEFT-joins the vocab — OOV words fall
    * back to character-level symbols (length(w), the word-level apply
    * table's honest fallback) — and rolls up per arrival keyed
    * (ts, doc_id) inside the watermark: state is exactly one group per
    * arrival in the horizon, the sentinel union keeps wordless pages
    * reporting zeros (identifyLanguage's shape). StreamingSpec proves
    * stream ≡ the batch t52 formula row-for-row, including a planted
    * OOV arrival and an empty-text arrival. */
  def encodeArrivals(arrivals: DataFrame, vocab: DataFrame): DataFrame = {
    // null-text arrivals are OMITTED entirely — the batch t52 gate
    // filters text IS NOT NULL before its doc spine, so the sentinel
    // must not resurrect them as (0,0,0) rows (stream ≡ batch
    // row-for-row, pinned by StreamingSpec's planted null-text arrival)
    val a = arrivals.filter(col("text").isNotNull).withWatermark("ts", "2 hours")
    // static vocab through CapGate: broadcast under the 2²² row cap,
    // planner-chosen stream-static equi-join past it — a Heaps-law web
    // vocabulary outgrows any broadcast, and a forced hint would OOM
    // the stream instead of degrading. NOTE: the gate's count() runs
    // ONCE at stream construction — only the join itself re-plans per
    // micro-batch. A model refresh that could cross the cap requires
    // re-creating the streaming query so the gate re-decides.
    val gatedVocab = graft.operators.CapGate.gate(vocab).frame
    val words = a
      .select(col("ts"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(gatedVocab, Seq("w"), "left")
      .select(col("ts"), col("doc_id"), lit(1L).as("one"),
        when(col("n_tok").isNull, 1L).otherwise(0L).as("oov"),
        coalesce(col("n_tok"), length(col("w")).cast("long")).as("tk"))
    val sentinel = a.select(col("ts"), col("doc_id"),
      lit(0L).as("one"), lit(0L).as("oov"), lit(0L).as("tk"))
    words.unionByName(sentinel)
      .groupBy(col("ts"), col("doc_id"))
      .agg(sum("one").cast("long").as("n_words"),
        sum("oov").cast("long").as("n_oov"),
        sum("tk").cast("long").as("n_tokens"))
      .select("doc_id", "n_words", "n_oov", "n_tokens")
  }

  /** Streaming perplexity gate — t53's stream twin: each arriving
    * document scores its bigram cross-entropy against the TRAINED LM
    * counts (static sides CapGated onto the stream; the joins re-plan
    * per micro-batch so refreshed count ROWS take effect, but the
    * gate's broadcast-or-shuffle decision is construction-time;
    * `vocab` is the one-row |distinct rhs| smoothing constant the
    * caller collects once). Stream shape: a document's bigrams all
    * originate in its ONE arrival row, so the per-(lhs, rhs)
    * multiplicity regroup AND the LmDocTypeCap truncation run
    * map-side (stacked streaming aggregations are unsupported anyway);
    * the ≤ cap kept types explode, two stateless CapGated LEFT joins
    * attach the counts, and ONE watermark-bounded (ts, doc_id) fold
    * computes the batch gate's exact sorted sequential sum locally.
    * Documents too short to bigram are absent, exactly as in the
    * batch gate. State = one group per arrival in the horizon, each
    * ≤ cap structs wide. StreamingSpec proves stream ≡ batch t53
    * row-for-row. */
  def scoreArrivals(arrivals: DataFrame, bigramCounts: DataFrame,
      leftCounts: DataFrame, vocab: Long): DataFrame = {
    val a = arrivals.withWatermark("ts", "2 hours")
    // the count tables are BIGRAM-VOCABULARY-sized — even larger than
    // the word vocab — so both ride CapGate: broadcast under the cap,
    // planner-chosen stream-static equi-join past it, matching the
    // batch lmScoreWith's discipline. The gate decision is fixed at
    // stream construction (see encodeArrivals) — swap the query, not
    // just the files, to re-gate a refreshed model.
    val gatedC2 = graft.operators.CapGate.gate(bigramCounts).frame
    val gatedC1 = graft.operators.CapGate.gate(leftCounts).frame
    // sort key comparison is UTF-8 BYTE order — what the batch side's
    // sort_array does on UTF8String structs; JVM String ordering
    // (UTF-16 code units) diverges from it on astral-plane tokens,
    // which would silently reorder the IEEE fold
    def cmpUtf8(x: String, y: String): Int =
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // A document's bigrams all originate in its ONE arrival row, so
    // the multiplicity regroup and the batch gate's LmDocTypeCap
    // truncation both happen MAP-SIDE, before the explode: the join
    // probe, the watermark state, and the final fold are all bounded
    // at cap types per doc — a book-length arrival (10⁶+ words) never
    // builds a ~100 MB state row. Kept types are the (lhs, rhs)-sorted
    // first 2¹⁶, the drop reported explicitly (the batch contract).
    val cap = graft.queries.TextQueries.LmDocTypeCap.toInt
    val prepU = udf((pairs: Seq[org.apache.spark.sql.Row]) => {
      val grouped = pairs.groupBy(r => (r.getString(0), r.getString(1)))
        .toSeq.sortWith { case ((ka, _), (kb, _)) =>
          val c = cmpUtf8(ka._1, kb._1)
          if (c != 0) c < 0 else cmpUtf8(ka._2, kb._2) < 0
        }
      LmPrep(pairs.size.toLong, math.max(grouped.size - cap, 0).toLong,
        grouped.take(cap).map { case ((l, r), rs) => LmKeptType(l, r, rs.size.toLong) })
    })
    val terms = a
      .filter(col("text").isNotNull)
      .select(col("ts"), col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("ts"), col("doc_id"), prepU(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (a, b) -> struct(a AS lhs, b AS rhs))")).as("pp"))
      .select(col("ts"), col("doc_id"),
        col("pp.n_bigrams").as("n_bigrams"),
        col("pp.n_types_dropped").as("n_types_dropped"),
        explode(col("pp.kept")).as("k"))
      .select(col("ts"), col("doc_id"), col("n_bigrams"), col("n_types_dropped"),
        col("k.lhs").as("lhs"), col("k.rhs").as("rhs"), col("k.m").as("m"))
      .join(gatedC2, Seq("lhs", "rhs"), "left")
      .join(gatedC1, Seq("lhs"), "left")
      .select(col("ts"), col("doc_id"), col("n_bigrams"), col("n_types_dropped"),
        struct(col("lhs"), col("rhs"), col("m"),
          (coalesce(col("c2"), lit(0L)) + lit(1L)).as("num"),
          (coalesce(col("c1"), lit(0L)) + lit(vocab)).as("den")).as("t"))
    // the batch gate's fold, run locally per arrival over the ≤ cap
    // kept types: sort by (lhs, rhs) and sum m·log2(num/den)
    // sequentially, normalized by the kept occurrence mass — log2 here
    // is StrictMath.log/StrictMath.log(2), because Catalyst's Log2
    // calls java.lang.StrictMath.log in both eval and codegen; Math.log
    // may be intrinsified with 1-ulp deviation on some platforms, which
    // would break the bit-for-bit stream ≡ batch contract StreamingSpec
    // asserts exactly. The round is Spark's HALF_UP, so stream and
    // batch emit identical doubles, not merely close ones
    val foldU = udf((ev: Seq[org.apache.spark.sql.Row]) => {
      val sorted = ev.sortWith { (x, y) =>
        val c = cmpUtf8(x.getString(0), y.getString(0))
        if (c != 0) c < 0 else cmpUtf8(x.getString(1), y.getString(1)) < 0
      }
      val nScored = sorted.iterator.map(_.getLong(2)).sum
      val s = sorted.foldLeft(0.0) { (acc, r) =>
        acc + r.getLong(2) * (StrictMath.log(r.getLong(3).toDouble /
          r.getLong(4).toDouble) / StrictMath.log(2.0))
      }
      BigDecimal(-s / nScored).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    })
    terms
      .groupBy(col("ts"), col("doc_id"))
      .agg(max("n_bigrams").as("n_bigrams"),
        max("n_types_dropped").as("n_types_dropped"),
        collect_list(col("t")).as("ev"))
      .select(col("doc_id"), col("n_bigrams"),
        foldU(col("ev")).as("xent_bits"), col("n_types_dropped"))
  }

  /** Streaming count-min sketch — the stream twin of the batch
    * `t28_heavy_hitters` sketch: the unbounded token stream folds into
    * a FIXED 4×1024-cell aggregate (same polynomial hash + affine row
    * probes), so the state store holds at most 4096 rows no matter how
    * long the stream runs — the property that makes frequency tracking
    * viable on an infinite ingest feed where per-token counting state
    * would grow with the vocabulary. Pure streaming aggregation (no
    * custom state), so map-side partial combining applies per
    * micro-batch and the sketch-merge is the aggregate's own merge:
    * count-min cells are additive, which is WHY the stream and batch
    * sketches are equal cell-for-cell, not just approximately. */
  def sketchTokens(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val polyU = udf((w: String) => graft.functions.Hashing.rollingHash8(w)._1)
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .withColumn("poly", polyU(col("w")))
      .select(col("poly"), explode(expr("sequence(0, 3)")).as("r"))
      .withColumn("cell", expr("(poly * (2 * r + 3) + r) % 1000000007 % 1024"))
      .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))
  }

  /** Streaming HyperLogLog registers — the stream twin of the batch
    * `t30_hll_cardinality` sketch: the unbounded token stream folds
    * into the SAME 256-register table (same polynomial hash, same
    * trailing-zero rank), with max() as the aggregate. Register max is
    * idempotent and commutative, so the micro-batch merge is again the
    * aggregate's own merge — stream registers equal the batch
    * registers EXACTLY, and the state store never exceeds 256 rows on
    * an infinite stream (distinct-counting state that would otherwise
    * grow with the vocabulary). The harmonic-mean inversion stays a
    * downstream reader's one-row fold over the emitted register table,
    * exactly as t30 computes it. */
  def sketchRegisters(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val polyU = udf((w: String) => graft.functions.Hashing.rollingHash8(w)._1)
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .withColumn("h", polyU(col("w")))
      .select((col("h") % 256).as("j"), expr("h div 256").as("wv"))
      .withColumn("rho",
        expr("CASE WHEN wv = 0 THEN 23 ELSE bit_count((wv & -wv) - 1) + 1 END"))
      .groupBy("j").agg(max("rho").as("mj"))
  }

  /** Streaming 3σ anomaly gate — the stream twin of the batch
    * `e11_anomaly` query: per-type moments (n, Σ, Σ²) come from a
    * STATIC reference frame (yesterday's corpus — recomputing a
    * running σ on the stream itself would flag nothing during a
    * drifting incident, which is exactly when the gate matters) and
    * broadcast onto the stream, so flagging is a stateless map-side
    * filter: no state store, no shuffle, works identically on batch
    * frames. The test is the same algebraic (n·v − S)² > 9(n·S2 − S²)
    * double form as the batch twin. Spark re-plans the static side
    * per micro-batch, so a refreshed stats table takes effect on the
    * next batch. */
  def flagAnomalies(events: DataFrame, statsSource: DataFrame): DataFrame = {
    val stats = statsSource
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum("cents").cast("double").as("sm"),
        sum(col("cents") * col("cents")).cast("double").as("s2"))
    events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .join(org.apache.spark.sql.functions.broadcast(stats), Seq("event_type"))
      .filter((col("n") * col("cents") - col("sm")) * (col("n") * col("cents") - col("sm"))
        > lit(9.0) * (col("n") * col("s2") - col("sm") * col("sm")))
      .select(col("event_id"), col("event_type"), col("cents"))
  }

  /** foreachBatch parquet landing: each micro-batch overwrites its OWN
    * batch directory, so a replayed batch (failure/retry re-delivers
    * the same batch id) lands idempotently instead of double-appending
    * — the standard exactly-once parquet sink pattern. Downstream
    * batch jobs read `baseDir/<wildcard>` and see each batch once. */
  def sinkToParquet(events: DataFrame, baseDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
      batch.write.mode("overwrite").parquet(s"$baseDir/batch_$id")
    }

  /** Stream-stream inner join: click→purchase attribution — purchases
    * matched to same-user clicks at most `windowMinutes` older. Both
    * sides carry watermarks and the join condition carries the event-
    * time range, so Spark can bound BOTH join state stores (clicks
    * older than the watermark + window are evicted, purchases at the
    * watermark): state is O(events per horizon), the canonical scalable
    * stream-stream join shape. Emits every qualifying pair (append
    * mode); the pick-best-click argmax is a downstream batch concern —
    * see the `e_attribution` batch twin, which adds it. */
  def attribute(clicks: DataFrame, purchases: DataFrame, windowMinutes: Int = 30): DataFrame =
    clicks.select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
      .join(
        purchases.select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour"),
        expr(s"""user_id = p_user AND click_ts <= purchase_ts
                 AND click_ts >= purchase_ts - interval $windowMinutes minutes"""))
      .select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")

  /** Stream-stream LEFT OUTER attribution — [[attribute]]'s negative
    * half, and the op that generates "did NOT convert" training labels
    * online: a click that finds no purchase in its window emits with
    * null purchase fields, but ONLY once both watermarks guarantee no
    * qualifying purchase can still arrive — Structured Streaming holds
    * the click in state until the purchase-side watermark passes the
    * window end, which is the correctness property a hand-rolled
    * timeout map loses (emit too early and a late purchase turns an
    * emitted negative into a lie). State per click is bounded by the
    * watermark horizon, so a 100 TB/day click stream holds only the
    * open window. StreamingSpec drives both the matched and the
    * timeout-emitted rows and checks them against the batch left-join
    * twin. */
  def attributeWithTimeout(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame =
    clicks.select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
      .join(
        purchases.select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour"),
        expr(s"""user_id = p_user AND purchase_ts >= click_ts
                 AND purchase_ts <= click_ts + interval $windowMinutes minutes"""),
        "left_outer")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"))

  /** Streaming sequence packing — t41/t44's stream twin: a packed
    * manifest row is a pure function of the doc's own width and the
    * RUNNING token total before it, so the stateful twin keys ONE
    * Long of state per source (the frozen prefix total) and emits
    * each arriving doc's manifest immediately. Parallelism is
    * per-source — each shard owns an independent sequence space,
    * exactly t44's grouped prefix sum, and the layout a
    * 1000-executor packer ships (state never funnels through one
    * key). Correct under t42's monotone-id append contract: within a
    * micro-batch docs sort by doc_id, across batches ids only grow —
    * the same contract that freezes t42's landed prefix sums.
    * StreamingSpec proves stream ≡ the batch grouped prefix sum
    * across micro-batch splits. */
  def packSequences(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("source"), col("doc_id"), col("toks"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, String, Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src, it, state) =>
          var base = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_._2).map { case (_, id, toks) =>
            val cum = base
            base += toks
            (id, src, toks, cum, cum / 512, cum % 512, (cum + toks - 1) / 512)
          }
          state.update(base)
          out.iterator
      }
      .toDF("doc_id", "source", "toks", "cum", "seq_first", "seq_off", "seq_last")
      .withColumn("n_crossings", col("seq_last") - col("seq_first"))
  }

  /** [[admitByDomain]]'s group state: the window's arrivals for one
    * registrable domain (doc ids + the domain's blocklist flag). */
  case class DomainWindowAcc(docs: Seq[Long], blocked: Boolean)

  /** Streaming DOMAIN ADMISSION — w3's stream twin over a crawl feed:
    * each arriving page parses its URL map-side (the staged builtin
    * algebra — no UDF, no state), checks the LANDED blocklist by a
    * broadcast membership join (curated maintained data, bounded by
    * construction — a domain list, never corpus-derived), and at most
    * `capPerWindow` docs per (1-hour window × registrable domain) are
    * admitted, the rest marked over_cap. Per-domain counts cannot be
    * assigned record-at-a-time without order sensitivity, so the
    * verdicts EMIT ON WINDOW CLOSE (event-time timeout): state is one
    * group per (window, domain) in the watermark horizon holding that
    * window's doc ids — watermark-bounded, O(arrivals per horizon),
    * never O(stream) — and ranks are doc_id-ordered, so the emitted
    * verdicts are micro-batch-invariant and equal the batch twin
    * row-for-row (StreamingSpec). Blocked wins precedence, exactly
    * w3's arm order. */
  def admitByDomain(arrivals: DataFrame, blocklist: DataFrame,
      capPerWindow: Long): DataFrame = {
    import arrivals.sparkSession.implicits._
    val winMs = 3600L * 1000L
    val parsed = graft.functions.Url.withParsed(
        arrivals.select(col("ts"), col("doc_id"), col("source"))
          .withColumn("url",
            graft.functions.Url.urlOf(col("doc_id"), col("source"))))
      .select(col("ts"), col("doc_id"), col("reg_domain"))
    val flagged = parsed
      .join(broadcast(blocklist.select("reg_domain")
        .withColumn("is_blocked", lit(true))), Seq("reg_domain"), "left")
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("doc_id"), col("reg_domain"),
        coalesce(col("is_blocked"), lit(false)).as("blk"))
      .as[(java.sql.Timestamp, Long, String, Boolean)]
    flagged
      .groupByKey { case (t, _, dom, _) =>
        (t.getTime / winMs * winMs, Option(dom)) }
      .flatMapGroupsWithState[DomainWindowAcc,
        (java.sql.Timestamp, Long, String, Long, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((winStart, dom), it, state) =>
          if (state.hasTimedOut) {
            val acc = state.get
            state.remove()
            acc.docs.sorted.iterator.zipWithIndex.map { case (id, i) =>
              val rank = i + 1L
              val verdict =
                if (acc.blocked) "blocked"
                else if (rank > capPerWindow) "over_cap"
                else "kept"
              (new java.sql.Timestamp(winStart), id, dom.orNull, rank, verdict)
            }
          } else {
            val acc0 = state.getOption.getOrElse(DomainWindowAcc(Nil, blocked = false))
            val batch = it.toSeq
            val acc = DomainWindowAcc(acc0.docs ++ batch.map(_._2),
              acc0.blocked || batch.exists(_._4))
            state.update(acc)
            // close when the watermark passes the window end (clamped
            // just above the current watermark — see sessionize)
            state.setTimeoutTimestamp(math.max(
              winStart + winMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
      .toDF("win_start", "doc_id", "reg_domain", "rank_in_domain", "verdict")
  }

  /** Stream twin of d35's doc-level mixture sampling: arrivals
    * (ts, doc_id, source) decide against the LANDED rate table
    * ([[graft.queries.DedupQueries.mixtureRatesFor]]) — a broadcast
    * stream-static join whose static rows re-plan per micro-batch, so
    * an e36 refresh landing a new store takes effect on the next
    * batch. Stateless by design: the corpus-level statistics live in
    * the landed store (the batch pipeline's t51-contract Z-set), and
    * the per-arrival decision is the SAME multiplicative hash d35
    * gates, so stream ≡ batch is structural. A source the store has
    * never seen is flagged `unrated` rather than silently admitted —
    * the mix is a budget, and an unbudgeted source must route to the
    * refresh leg, not around it. */
  def sampleArrivals(arrivals: DataFrame, rates: DataFrame): DataFrame =
    arrivals.select(col("ts"), col("doc_id"), col("source"))
      .join(broadcast(rates.select(col("src"), col("rate"))),
        col("source") <=> col("src"), "left")
      .select(col("ts"), col("doc_id"), col("source"),
        when(col("rate").isNull, "unrated")
          .when(graft.queries.DedupQueries.mixtureHash < col("rate") * 1048576.0,
            "sampled")
          .otherwise("skipped").as("verdict"))

  /** Stream twin of the batch w6 recrawl-feed verdict
    * ([[graft.queries.WebQueries]]): arrivals (ts, doc_id, source)
    * derive the same canonical URL and fetch_day as w4/w6, and each
    * fetch is admitted iff at least as fresh as the freshest prior
    * dated fetch of its URL (a null fetch_day never freshens the
    * frontier, and is admitted only while the URL has no dated fetch
    * — the batch twin's null algebra). Within a micro-batch, a URL's
    * arrivals fold in feed order (doc_id ascending, nulls last) — the
    * batch window's order, so stream ≡ batch is per-row.
    *
    * State is the recrawl FRONTIER itself: ONE long per canonical URL
    * (the freshest fetch_day seen), under NoTimeout BY DESIGN — a
    * frontier must remember a URL across any watermark horizon
    * (re-fetches arrive weeks apart), so its cardinality is the URL
    * universe, not an arrival horizon. That is the same bound the
    * batch pipeline owns: the landed w4 keep-newest compaction is the
    * maintenance leg that checkpoints and rebounds this state. */
  def recrawlKeepNewest(arrivals: DataFrame): DataFrame = {
    import arrivals.sparkSession.implicits._
    val parsed = graft.functions.Url.withParsed(
        arrivals.select(col("doc_id"), col("source"))
          .withColumn("url",
            graft.functions.Url.urlOf(col("doc_id"), col("source"))))
      .withColumn("canon_url", graft.functions.Url.canonUrl)
      .withColumn("fetch_day", (col("doc_id") * lit(7L)) % lit(100L))
      .select(col("doc_id"), col("canon_url"), col("fetch_day"))
      .as[(Option[Long], Option[String], Option[Long])]
    parsed
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Option[Long], Option[String], Option[Long], String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, it, state) =>
          var best: Option[Long] = state.getOption
          val out = it.toSeq
            .sortBy(_._1.getOrElse(Long.MaxValue))
            .map { case (id, cu, day) =>
              val admitted = best.isEmpty || day.exists(_ >= best.get)
              day.foreach(d => best = Some(best.fold(d)(math.max(_, d))))
              (id, cu, day, if (admitted) "admitted" else "stale")
            }
          best.foreach(state.update)
          out.iterator
      }
      .toDF("doc_id", "canon_url", "fetch_day", "verdict")
  }

  /** Event-time sessionization: per-user sessions closed after
    * `gapMinutes` of inactivity (custom state via
    * flatMapGroupsWithState, emitted on event-time timeout). */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, it, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(uid, s.count, s.sumValue, (s.lastMs - s.startMs) / 1000.0))
          } else {
            val acc0 = state.getOption.getOrElse(SessionAcc(0, 0.0, Long.MaxValue, Long.MinValue))
            val acc = it.foldLeft(acc0) { (a, e) =>
              SessionAcc(a.count + 1, a.sumValue + e.value,
                math.min(a.startMs, e.ts.getTime), math.max(a.lastMs, e.ts.getTime))
            }
            state.update(acc)
            // Clamp to just above the current watermark: a batch of
            // late-but-admitted events can have lastMs + gap below the
            // watermark, which Spark rejects (IllegalArgumentException)
            // and would fail the whole streaming query.
            state.setTimeoutTimestamp(math.max(
              acc.lastMs + gapMinutes * 60 * 1000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }
}
