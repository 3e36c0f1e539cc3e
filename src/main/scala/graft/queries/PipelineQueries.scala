package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline surface, round 4: CDC-style merge/upsert,
  * weekly cohort retention, integer-exact TF-IDF ranking, a bigram
  * next-word model, PII-style identifier masking, and a partition-pruned
  * landing-zone read.
  *
  * Cross-engine exactness: all scores/sums are BIGINT (prices in cents,
  * TF-IDF in integer millionths via integer division), so the DuckDB
  * hash gate is exact — no float accumulation order dependence.
  *
  * Scale notes per query are inline; the shared principles: merge joins
  * shuffle by the natural key once and reuse that partitioning for the
  * last-wins window; term-level aggregations partial-aggregate map-side
  * before the term shuffle; the landing read prunes partitions at the
  * file listing, not per-row.
  */
object PipelineQueries {

  /** S15's partitioned landing zone, written ONCE per (JVM, source dir)
    * so the timed/gated query body is only the pruned read — every bench
    * pass re-writing the directory both polluted the timing and put a
    * side effect in a read query. */
  private def landingFor(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Caches.landed(s, dir, "s15") { l =>
      Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        .write.mode("overwrite").partitionBy("day").parquet(l.path)
      l.path
    }

  /** S20's token-balanced shard landing, written ONCE per (JVM, source
    * dir): the gated query reads the WRITTEN layout back, so the hash
    * gate covers the [[graft.sources.TrainingShards]] sink end-to-end
    * (assignment, contiguity, balance), not a simulation of it. Weight
    * is the whitespace token count (TextQueries' toks convention); the
    * DuckDB twin recomputes the same exclusive prefix sum over doc_id
    * order. */
  private[graft] val S20Shards = 8

  private def shardLandingFor(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Caches.landed(s, dir, "s20") { l =>
      graft.sources.TrainingShards.write(
        Tables.documents(s, dir).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")),
        col("n_tok"), col("doc_id").asc_nulls_last, S20Shards, l.path)
      l.path
    }

  /** S17's ORC landing, written ONCE per (JVM, source dir). ORC is the
    * one columnar format in Spark's builtin source matrix the suite
    * didn't yet exercise; the
    * gated query reads the ORC copy back and aggregates, with the
    * oracle running the identical aggregate on the PARQUET original —
    * so the hash gate proves write→read value fidelity across the
    * format boundary (decimal-exact cents, no float round-trip). */
  private def orcLandingFor(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Caches.landed(s, dir, "s17") { l =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity")).cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").orc(l.path)
      l.path
    }

  /** S16's two-schema-version landing files, written ONCE per
    * (JVM, source dir): the gated query body is only the mergeSchema
    * read. v1 files carry (okey, cents); v2 adds `status`. */
  private def evolutionFor(s: org.apache.spark.sql.SparkSession, dir: String): Seq[String] =
    Caches.landed(s, dir, "s16") { l =>
      val base = l.path
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey").as("okey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderstatus").as("status"))
      orders.filter(col("okey") % 2 === 0).drop("status")
        .write.mode("overwrite").parquet(s"$base/v1")
      orders.filter(col("okey") % 2 === 1)
        .write.mode("overwrite").parquet(s"$base/v2")
      Seq(s"$base/v1", s"$base/v2")
    }

  /** The three-round learn-merge loop over an arbitrary (w, freq)
    * word table — factored from [[bpeFor]] so t51's refresh can
    * retrain from the MERGED count store (landed pre-delta counts +
    * the delta batch's own aggregate) through the identical trainer.
    * Cached frames register under `d` for release. */
  private def bpeTrain(d: String, words: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[(Long, String, String, Long)]) = {
    // greedy left-to-right token merge — identical semantics to the
    // oracle's encoded list_reduce ("a a a" + (a,a) → ["aa","a"])
    val mergeU = udf((sym: Seq[String], a: String, b: String) => {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      for (x <- sym) {
        if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
        else out += x
      }
      out.toSeq
    })
    var vocab = Caches.trackCached(d, words
      .select(col("w"), col("freq"), split(col("w"), "").as("sym")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var dry = false
    for (r <- 1 to 3 if !dry) {
      val tops = vocab
        .select(col("freq"), explode(expr(
          "zip_with(slice(sym, 1, size(sym) - 1), slice(sym, 2, size(sym) - 1)," +
            " (a, b) -> struct(a AS lhs, b AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      // no pairs left (empty or single-char-word corpus): training is
      // done, not broken
      if (tops.isEmpty) dry = true
      else {
        val top = tops(0)
        merges += ((r.toLong, top.getString(0), top.getString(1), top.getLong(2)))
        vocab = vocab.select(col("w"), col("freq"),
          mergeU(col("sym"), lit(top.getString(0)), lit(top.getString(1))).as("sym"))
      }
    }
    (Caches.trackCached(d, vocab), merges.toSeq)
  }

  /** t34/t50's shared encode shape: the token stream joined against a
    * (w, n_tok) apply table — t34 feeds the memoized model, t50 the
    * landed one; the reporting is identical by construction. The apply
    * table rides [[graft.operators.CapGate]]: broadcast under the 2²²
    * row cap (the common case — the probe stream never shuffles),
    * plain shuffle equi-join past it (a Heaps-law web vocabulary runs
    * 10⁸–10⁹ distinct words — past the broadcast hard limit, the old
    * forced hint died instead of degrading). */
  private[graft] def bpeEncodeWith(s: org.apache.spark.sql.SparkSession, dir: String,
      wl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(graft.operators.CapGate.gate(wl).frame, Seq("w"))
      .groupBy("source").agg(
        countDistinct("doc_id").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_words"),
        sum("n_tok").cast("long").as("n_tokens"))
      .withColumn("tok_per_word_bp", expr("n_tokens * 10000 div n_words"))
      .orderBy("source")

  /** The corpus word-frequency table — BPE's sufficient statistic
    * (counts are additive over disjoint document sets, which is what
    * makes t51's refresh O(delta)). */
  private def bpeWords(s: org.apache.spark.sql.SparkSession, dir: String,
      pred: Column): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir).filter(pred)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).cast("long").as("freq"))

  /** t27's learned BPE state — (final vocab frame, merge list) after
    * three learn-merge rounds — memoized per (JVM, dir) with the d14/d2
    * edge-memo discipline: it is a TRAINED-MODEL artifact consumed by
    * two queries (t27 reports the training trace, t34 encodes the
    * corpus with it), and the loop collects one argmax row per round,
    * so a second consumer re-running it would pay three driver actions
    * even with all inputs cached. Both the initial word table and the
    * final encoded vocab are cached (the final is scanned by t27's two
    * stats aggregates and t34's encode join). */
  private def bpeFor(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Seq[(Long, String, String, Long)]) =
    Caches.memo(s, dir, "t27_bpe") {
      bpeTrain(dir, bpeWords(s, dir, lit(true)))
    }

  /** T50's landed BPE MODEL — the tokenizer as a versioned artifact
    * (train-once/serve-many, closing the r14 gap where t27/t34's
    * trained state lived only in a per-JVM memo): `merges/` is the
    * model of record (rank-ordered merge list — what a tokenizer
    * release ships) and `vocab/` its compiled apply form (word →
    * symbol count, the broadcastable table the encode join serves
    * from). Landed once per (JVM, dir); a retrained model is a new
    * landing (t43's refresh contract — t51 proves the retrain leg).
    * At 100 TB the vocab is bounded by the DISTINCT-word count, not
    * the corpus — sublinear, but Heaps-law UNBOUNDED (10⁸–10⁹ distinct
    * whitespace tokens on a web crawl), which is why every serve join
    * against it rides [[graft.operators.CapGate]] instead of a forced
    * broadcast. */
  private[graft] val bpeVocabSchema = "w STRING, n_tok BIGINT"
  private[graft] val bpeMergesSchema =
    "merge_rank BIGINT, lhs STRING, rhs STRING, pair_count BIGINT"

  private[graft] def bpeModelFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "t50") { l =>
      import s.implicits._
      val (vocab, merges) = bpeFor(s, dir)
      merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"${l.path}/merges")
      vocab.select(col("w"), size(col("sym")).cast("long").as("n_tok"))
        .write.mode("overwrite").parquet(s"${l.path}/vocab")
      l.path
    }

  /** T51's arrival carve — the refresh batch (a new crawl slice).
    * TOTAL predicate (coalesce pins a null doc_id to the store side):
    * every consumer reconstructs the full corpus as store(!pred) ∪
    * delta(pred), and a null-valued pred would fail BOTH filters,
    * vanishing the doc from the merged counts while the t56/t61
    * oracles' kept-pred ('doc_id IS NULL OR NOT ...') retains it. */
  private[graft] def bpeIsDelta: Column =
    pmod(coalesce(col("doc_id"), lit(0L)), lit(9L)) === 4

  /** T56's post-forget word counts: the full-corpus store (pre-delta
    * landing + delta — t51's lambda fold) Z-set-merged with the e24
    * deletion batch's OWN aggregate at negative sign; zero-count rows
    * drop, so nothing of a deleted-only word survives (the
    * no-resurrection pin in QualitySpec). */
  private[graft] def bpeForgottenCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val store = s.read.schema(bpeCountSchema).parquet(bpeCountsFor(s, dir))
      .unionByName(bpeWords(s, dir, bpeIsDelta))
    val deleted = bpeWords(s, dir,
        col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 1)
      .select(col("w"), (-col("freq")).as("freq"))
    store.unionByName(deleted)
      .groupBy("w").agg(sum("freq").cast("long").as("freq"))
      .filter(col("freq") > 0)
  }

  /** T51's landed WORD-COUNT store: raw (w, freq) over the PRE-DELTA
    * corpus — the mergeable sufficient statistic behind the BPE model
    * (t43's count-store discipline applied to the tokenizer). A newly
    * arrived batch aggregates ALONE and ADDS into the store — history
    * is never re-tokenized — and retraining is the same three-round
    * loop over the merged counts, provably equal to a full retrain
    * (the t51 gate). */
  private[graft] val bpeCountSchema = "w STRING, freq BIGINT"

  private[graft] def bpeCountsFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "t51") { l =>
      bpeWords(s, dir, !bpeIsDelta).write.mode("overwrite").parquet(l.path)
      l.path
    }

  /** One DuckDB learn-merge round (t27/t34's shared twin): pair counts
    * over the vocab, top-1 by (count DESC, lhs, rhs), then the greedy
    * token merge as a fold over a chr(31)-encoded accumulator (symbols
    * never contain the unit separator). */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"s${r - 1}"
    s""" p$r AS (SELECT sym[CAST(i AS INT)] AS lhs, sym[CAST(i AS INT) + 1] AS rhs,
       |     CAST(sum(freq) AS BIGINT) AS c
       |   FROM $prev, unnest(range(1, len(sym))) AS t(i) GROUP BY 1, 2),
       | b$r AS (SELECT lhs, rhs, c FROM p$r ORDER BY c DESC, lhs, rhs LIMIT 1),
       | s$r AS (SELECT w, freq,
       |    string_split(list_reduce(sym, (acc, x) -> CASE
       |      WHEN (acc = lhs OR ends_with(acc, chr(31) || lhs)) AND x = rhs
       |      THEN acc[1:len(acc) - len(lhs)] || lhs || rhs
       |      ELSE acc || chr(31) || x END), chr(31)) AS sym
       |   FROM $prev, b$r)""".stripMargin
  }

  /** t41/t42's packing oracle — the full sequential-window recompute
    * (t42's incremental union must hash-equal it). */
  private lazy val t41PackingSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |   FROM documents WHERE text IS NOT NULL),
      | c AS (SELECT doc_id, toks,
      |    CAST(COALESCE(sum(toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS cum FROM d)
      |SELECT doc_id, toks, cum,
      |  cum // 512 AS seq_first, cum % 512 AS seq_off,
      |  (cum + toks - 1) // 512 AS seq_last,
      |  (cum + toks - 1) // 512 - cum // 512 AS n_crossings
      |FROM c ORDER BY doc_id""".stripMargin

  /** t39's lang-ID replay CTE — planted per-language transform, char
    * trigrams, profile training (top-200 grams per language, count
    * desc / gram asc), BIGINT fixed-point scoring, dense argmax +
    * margin — the common prefix of the t39/t40 twins and (with the
    * score predicate widened to TRUE) e21's full-corpus routing. */
  private[graft] def t39LangIdCteFor(scorePred: String): String =
    s"""WITH d2 AS (SELECT doc_id, lang, CASE lang
      |     WHEN 'es' THEN translate(text, 'aeio', 'áéíó')
      |     WHEN 'de' THEN translate(text, 'aeou', 'äëöü')
      |     WHEN 'fr' THEN translate(text, 'aeiu', 'àéîû')
      |     WHEN 'zh' THEN translate(text, 'aeiou', '的一是不了')
      |     ELSE text END AS t
      |   FROM documents WHERE text IS NOT NULL AND length(text) >= 3),
      | grams AS (SELECT doc_id, lang, unnest(list_transform(
      |     range(1, length(t) - 1), i -> substr(t, CAST(i AS INTEGER), 3))) AS g
      |   FROM d2),
      | prof AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS cnt
      |   FROM grams WHERE doc_id % 5 != 0 GROUP BY 1, 2),
      | tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM prof GROUP BY 1),
      | wts AS (SELECT p.lang AS plang, p.g,
      |     CAST(p.cnt * 1000000 // t.tot AS BIGINT) AS w
      |   FROM (SELECT lang, g, cnt, row_number() OVER (
      |       PARTITION BY lang ORDER BY cnt DESC, g ASC) AS rk FROM prof) p
      |   JOIN tot t USING (lang) WHERE p.rk <= 200),
      | test AS (SELECT * FROM grams WHERE $scorePred),
      | hits AS (SELECT doc_id, plang, CAST(sum(w) AS BIGINT) AS score
      |   FROM test JOIN wts USING (g) GROUP BY 1, 2),
      | dense AS (SELECT d.doc_id, d.lang, l.plang,
      |     COALESCE(h.score, 0) AS score
      |   FROM (SELECT DISTINCT doc_id, lang FROM test) d
      |   CROSS JOIN (SELECT DISTINCT plang FROM wts) l
      |   LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.plang = l.plang),
      | ranked AS (SELECT *, row_number() OVER (
      |     PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
      |   FROM dense),
      | verdicts AS (SELECT b.doc_id, b.lang AS true_lang,
      |     b.plang AS pred_lang, CAST(b.score AS BIGINT) AS score,
      |     CAST(b.score - COALESCE(s2.score, 0) AS BIGINT) AS margin,
      |     b.plang = b.lang AS correct
      |   FROM (SELECT * FROM ranked WHERE rn = 1) b
      |   LEFT JOIN (SELECT doc_id, score FROM ranked WHERE rn = 2) s2
      |     USING (doc_id))""".stripMargin

  private lazy val t39LangIdCte: String = t39LangIdCteFor("doc_id % 5 = 0")

  /** t27's (and t51's, and — with the e24 kept-pred — t56's) oracle:
    * the full three-round retrain replay over the given doc slice —
    * merge trace plus final symbol stats. */
  private def bpeMergesOracleSqlFor(pred: String): String =
    s"""WITH ${bpeChainSqlFor(pred)},
       | st AS (SELECT
       |    (SELECT CAST(count(DISTINCT sy) AS BIGINT)
       |     FROM s3, unnest(sym) AS u(sy)) AS vocab_symbols,
       |    (SELECT CAST(sum(freq * len(sym)) AS BIGINT) FROM s3) AS corpus_symbols)
       |SELECT r.mr AS merge_rank, r.lhs, r.rhs, r.c AS pair_count,
       |  st.vocab_symbols, st.corpus_symbols
       |FROM (SELECT CAST(1 AS BIGINT) AS mr, * FROM b1
       |      UNION ALL SELECT CAST(2 AS BIGINT), * FROM b2
       |      UNION ALL SELECT CAST(3 AS BIGINT), * FROM b3) r, st
       |ORDER BY merge_rank""".stripMargin

  private lazy val bpeMergesOracleSql: String = bpeMergesOracleSqlFor("TRUE")

  /** t34's (and t50's) oracle: retrain, then encode by joining the
    * token stream against the final vocab's symbol counts. */
  private lazy val bpeEncodeOracleSql: String =
    s"""WITH $bpeChainSql,
       | enc AS (SELECT w, CAST(len(sym) AS BIGINT) AS n_tok FROM s3),
       | docw AS (SELECT source, doc_id, w FROM (SELECT source, doc_id,
       |     unnest(string_split(text, ' ')) AS w FROM documents)
       |   WHERE len(w) >= 1)
       |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_tok) AS BIGINT) * 10000 //
       |    CAST(count(*) AS BIGINT) AS tok_per_word_bp
       |FROM docw d JOIN enc e USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  /** t52's oracle: retrain, then the per-document rollup with the
    * character-count fallback for OOV words and a zero row for
    * wordless pages (the doc-spine left join). */
  private lazy val bpeDocTokensOracleSql: String =
    s"""WITH $bpeChainSql,
       | enc AS (SELECT w, CAST(len(sym) AS BIGINT) AS n_tok FROM s3),
       | docw AS (SELECT doc_id, w FROM (SELECT doc_id,
       |     unnest(string_split(text, ' ')) AS w FROM documents
       |     WHERE text IS NOT NULL)
       |   WHERE len(w) >= 1),
       | agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |     CAST(count(CASE WHEN e.n_tok IS NULL THEN 1 END) AS BIGINT) AS n_oov,
       |     CAST(sum(COALESCE(e.n_tok, length(w))) AS BIGINT) AS n_tokens
       |   FROM docw d LEFT JOIN enc e USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
       |  COALESCE(a.n_oov, 0) AS n_oov, COALESCE(a.n_tokens, 0) AS n_tokens
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The full three-round training chain, word table → s3 final vocab —
    * the common prefix of t27's, t34's, and (doc-slice-parameterized)
    * t56's oracle twins. */
  private def bpeChainSqlFor(pred: String): String =
    s"""words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    WHERE ($pred))
       |  WHERE len(w) >= 1 GROUP BY w),
       | s0 AS (SELECT w, freq,
       |    list_transform(range(1, len(w) + 1), i -> w[CAST(i AS INT)]) AS sym
       |   FROM words),
       |${bpeRoundSql(1)},
       |${bpeRoundSql(2)},
       |${bpeRoundSql(3)}""".stripMargin

  private lazy val bpeChainSql: String = bpeChainSqlFor("TRUE")

  val queries: Map[String, QueryFn] = queriesExtra ++ Map(
    // ---- S14: CDC merge (Delta-style MERGE INTO re-expressed as a
    // declarative plan): a change feed with upsert/delete ops and a
    // monotone sequence collapses last-wins per key, then full-outer
    // merges into the base — inserts (key only in feed), updates (both
    // sides), deletes (dropped), kept rows (base only) in ONE pass.
    // The feed is derived deterministically from lineitem (keys with
    // l_partkey % 50 == 0 are shifted out of the base's key range to
    // exercise the not-matched-insert branch). Scale: both sides
    // shuffle by the merge key once; the last-wins window reuses the
    // feed's hash partitioning (no second exchange — PlanSpec pins
    // this), which is exactly how a log-structured table compaction
    // runs at 100 TB. ----
    "s14_merge_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("okey"),
        round(col("o_totalprice") * 100).cast("long").as("base_cents"))
      val ch = Tables.lineitem(s, dir).select(
        when(col("l_partkey") % 50 === 0, col("l_orderkey") + 100000000L)
          .otherwise(col("l_orderkey")).as("okey"),
        when((col("l_orderkey") + col("l_linenumber")) % 10 < 2, lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        round(col("l_extendedprice") * 100).cast("long").as("new_cents"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("seq"))
      // (l_orderkey, l_linenumber) is NOT unique in the fixture, so seq
      // alone ties; op/new_cents break the tie deterministically (rows
      // still tied after that are byte-identical — pick is invariant).
      val w = Window.partitionBy("okey")
        .orderBy(col("seq").desc, col("op").desc, col("new_cents").desc)
      val last = ch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("okey", "op", "new_cents")
      base.join(last, Seq("okey"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "delete")
        .select(col("okey"),
          when(col("op") === "upsert", col("new_cents"))
            .otherwise(col("base_cents")).as("cents"),
          when(col("op").isNull, "kept")
            .when(col("base_cents").isNull, "inserted")
            .otherwise("updated").as("src"))
        .orderBy("okey")
    }),

    // ---- E10: weekly cohort retention — users bucketed by first-seen
    // week, activity counted at each week offset. Day arithmetic is
    // integer µs-since-epoch division (no engine week/tz semantics).
    // Scale: the first-seen aggregate and the activity join both hash
    // by user_id — one shuffle, reused; the cohort matrix itself is
    // tiny (weeks × offsets). ----
    "e10_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.join(first, Seq("user_id"))
        .select(col("user_id"), expr("cohort_day div 7").as("cohort_week"),
          expr("(day - cohort_day) div 7").as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // ---- T13: TF-IDF term ranking, integer-exact: score = tf ×
    // ((1e6 × N) div df) keeps the classic tf·log-free idf ORDERING
    // (idf is monotone in N/df) in pure BIGINT arithmetic both engines
    // compute identically. Top-3 terms per doc. Scale: tf partial-
    // aggregates map-side before the (doc,term) shuffle; df is one
    // count-per-term hash aggregate over tf (one row per (doc,term) —
    // a count, not a distinct-count) BROADCAST back onto tf: the
    // duplicate run of the cheap tf subtree on the build side costs
    // less than sort-exchanging the full tf for a window over term,
    // and the probe side flows with no exchange; N broadcasts as a
    // 1-row frame. The df table is TERM-VOCABULARY-sized (Heaps-law
    // unbounded on web text), so it rides CapGate — broadcast under
    // the cap, shuffle equi-join past it — cached first so the gate's
    // count doesn't recompute the tf subtree. ----
    "t13_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val total = docs.agg(count(lit(1)).as("n_total"))
      val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = Caches.trackCached(dir,
        tf.groupBy("term").agg(count(lit(1)).as("df")))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
      tf.join(graft.operators.CapGate.gate(df).frame, Seq("term"))
        .crossJoin(broadcast(total))
        .withColumn("score", expr("tf * ((1000000 * n_total) div df)"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    }),

    // ---- T14: bigram next-word model — the most likely successor of
    // every word (argmax count, ties to the lexicographically smallest
    // successor). zip_with over offset slices builds pairs without a
    // per-row loop; slice of an empty tail yields [] so 1-token docs
    // contribute nothing. ----
    "t14_bigram_next" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("w1").orderBy(col("cnt").desc, col("w2").asc)))
        .filter(col("rn") === 1)
        .select(col("w1"), col("w2").as("next_word"), col("cnt"))
        .orderBy("w1")),

    // ---- T15: PII-style masking — digit-run identifiers (ids, phone
    // fragments, zip codes) replaced with a <NUM> sentinel plus a
    // per-row mask count, the pre-training redaction pass. The pattern
    // is RE2-safe so the DuckDB twin is exact (DuckDB needs the 'g'
    // flag — its regexp_replace is first-match by default). The input
    // deliberately mixes corpus text with appended numeric fields so
    // the mask has real work on this synthetic corpus. ----
    "t15_redact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 40), lit(" uid:"),
            col("doc_id").cast("string"), lit(" len:"),
            col("n_chars").cast("string")).as("raw"))
        .select(col("doc_id"),
          regexp_replace(col("raw"), "[0-9]+", "<NUM>").as("masked"),
          size(expr("regexp_extract_all(raw, '[0-9]+', 0)")).cast("long").as("n_masked"))
        .orderBy("doc_id")),

    // ---- S15: partitioned landing zone + pruned read — events land
    // partitioned by day (the standard date-partitioned lake layout),
    // then a week's slice is read back with a partition filter that
    // prunes at FILE LISTING time (PlanSpec asserts PartitionFilters
    // reaches the scan). At 100 TB this is the difference between
    // scanning 7 days and scanning 3 years. ----
    // ---- S17: ORC round-trip — the remaining builtin columnar format
    // in the source matrix (parquet, csv, jsonl, xlsx, xls are all
    // exercised elsewhere): lineitem lands as ORC once per dir, the
    // query reads it back and aggregates, and the oracle aggregates
    // the PARQUET original — value fidelity across the format boundary
    // is the gate. Integer domain throughout (rounded qty, cents). ----
    "s17_orc_roundtrip" -> ((s, dir) => {
      s.read.orc(orcLandingFor(s, dir))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum("qty").as("sum_qty"), sum("cents").as("sum_cents"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "s15_partition_prune" -> ((s, dir) => {
      // explicit schema (the landing writer's own output schema): an
      // EMPTY events slice lands as a fileless directory, which schema
      // inference cannot read — empty in must mean empty out
      val landedSchema = Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000")).schema
      s.read.schema(landedSchema).parquet(landingFor(s, dir))
        .filter(col("day").between(19730, 19736))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy("event_type")
    }),

    // ---- S20: token-balanced training-shard sink, hash-gated on the
    // WRITTEN layout: documents land as shard=N partitions via the
    // TrainingShards prefix-sum assignment (shards are contiguous
    // doc_id ranges of near-equal token weight — the property that
    // keeps every downstream trainer's shard wall-clock equal), and
    // the gated read-back aggregates per shard. min/max doc_id pin
    // contiguity; tokens pins balance; the DuckDB twin recomputes the
    // identical exclusive prefix sum, so the gate proves the sink's
    // deterministic layout, not just its row count. ----
    "s20_token_shards" -> ((s, dir) => {
      // explicit schema — see s15: an empty corpus lands no files
      val landedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_tok",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.LongType)))
      s.read.schema(landedSchema).parquet(shardLandingFor(s, dir))
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("tokens"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),

    // ---- S21: seeded global shuffle → round-robin shards — the
    // training-order step between packing (t21) and the token-balanced
    // sink (s20): trainers want every shard to be an unbiased sample
    // of the corpus in a DETERMINISTIC pseudorandom order (resumable,
    // reproducible across reruns — which rules out rand()). The
    // permutation key is the same cross-engine Knuth multiplicative
    // hash t24 uses; the global rank over it is the skew-proof
    // GlobalOrder numbering (range-repartition + per-shard offsets —
    // NO single-partition window at any scale); shard = rank mod S
    // round-robins the permuted order so shard sizes differ by at most
    // one and each shard's internal order is the permutation restricted
    // to it. The gate hashes the FULL per-document assignment, so the
    // oracle (a plain global row_number in DuckDB) proves the
    // distributed numbering ≡ the sequential one, document by
    // document. ----
    "s21_shuffled_shards" -> ((s, dir) => {
      val S = 16
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("k", (col("doc_id") * 2654435761L) % 1000000007L)
      // nulls-last on BOTH keys: Spark's bare asc sorts nulls FIRST
      // while the DuckDB twin's window default is NULLS LAST — a
      // null-id arrival must take the same rank in both engines
      graft.operators.GlobalOrder
        .withPosition(keyed, "pos",
          col("k").asc_nulls_last, col("doc_id").asc_nulls_last)
        .select(col("doc_id"),
          ((col("pos") - 1) % S).cast("long").as("shard"),
          // integral DIV, not Column./ (double division truncates past
          // 2^53) — the family's exact-integer convention
          expr(s"(pos - 1) div $S").cast("long").as("pos_in_shard"))
        .orderBy("doc_id")
    }),

    // ---- E11: z-score outlier detection — the row-level anomaly gate
    // a training pipeline runs before aggregating telemetry (drop the
    // fat-fingered 1000× values before they poison a mean). Per-type
    // moments (n, Σ, Σ²) are ONE hash aggregate to a handful of rows,
    // broadcast back onto the stream, so flagging is a map-side filter
    // — no second shuffle at any scale. The 3σ test is the algebraic
    // form (n·v − S)² > 9·(n·S2 − S²), i.e. (v − μ)² > 9σ² with both
    // sides × n²: the BIGINT moments convert exactly to double and
    // both engines evaluate the identical IEEE expression, so the gate
    // is hash-exact (BIGINT products would overflow at ~1e20 — DuckDB
    // errors, Spark wraps — so the comparison itself must be double). ----
    "e11_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum("cents").cast("double").as("sm"),
        sum(col("cents") * col("cents")).cast("double").as("s2"))
      ev.join(broadcast(stats), Seq("event_type"))
        .filter((col("n") * col("cents") - col("sm")) * (col("n") * col("cents") - col("sm"))
          > lit(9.0) * (col("n") * col("s2") - col("sm") * col("sm")))
        .select(col("event_id"), col("event_type"), col("cents"))
        .orderBy("event_id")
    }),

    // ---- T16: bigram-LM familiarity bucketing — the CCNet-style
    // curation split: score each document by how familiar its bigrams
    // are under the corpus's own bigram counts, then bucket head /
    // middle / tail against the corpus mean. Integer-exact: familiarity
    // = Σ corpus-count(bigram), avg = familiarity div n_bigrams, and
    // the bucket thresholds (≥ 2× / ≥ 1× the corpus-wide mean) stay in
    // BIGINT cross-multiplied form. Scale: one shuffle on the bigram
    // key (counts partial-aggregate map-side), one regroup by doc, and
    // the corpus mean is a broadcast single row — the same shape at
    // 100 TB (a real pipeline would swap the exact counts for a
    // count-min sketch; the join plumbing is identical). ----
    "t16_lm_familiarity" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val counts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      val perDoc = bg.join(counts, Seq("w1", "w2"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"), sum("cnt").as("fam_sum"))
        // div vs DuckDB // agree here by contract: both operands are
        // counts (>= 0), where truncation == floor
        .withColumn("avg_fam", expr("fam_sum div n_bigrams"))
      val corpus = perDoc.agg(sum("fam_sum").as("tot_fam"), sum("n_bigrams").as("tot_n"))
      perDoc.crossJoin(broadcast(corpus))
        .withColumn("corpus_avg", expr("tot_fam div tot_n"))
        .select(col("doc_id"), col("n_bigrams"), col("fam_sum"), col("avg_fam"),
          when(col("avg_fam") >= lit(2) * col("corpus_avg"), "head")
            .when(col("avg_fam") >= col("corpus_avg"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // ---- E12: fixed-width value histogram — the distribution profile
    // a pipeline snapshots per ingest batch (drift shows up as mass
    // moving between bins before any model metric degrades; t17's PSI
    // consumes exactly this shape). Integer cents div a fixed bin
    // width — no quantile pass, so the whole profile is ONE map-side
    // partial-aggregated groupBy at any scale. Binning is explicit
    // FLOOR division on both engines: Spark's `div` truncates toward
    // zero while DuckDB's `//` floors, so a negative value would bin
    // differently under the truncating pair — floor() keeps the twin
    // exact for any sign (the fixture's values happen to be >= 0, but
    // the contract shouldn't hang on that). ----
    "e12_value_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(floor(CAST(round(value * 100) AS BIGINT) / 2500) AS BIGINT)").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")),

    // ---- T19: k-anonymity audit — the release gate before a dataset
    // leaves the pipeline: group rows by their quasi-identifier tuple
    // (event type × user id — the generalization k-anonymity tooling
    // tunes), measure every equivalence class, and report per type how
    // many classes fall below k (re-identifiable) and how many ROWS
    // sit in those classes — the number that must be suppressed or
    // generalized before release. Two hash aggregates (class sizes,
    // then the per-type rollup), both map-side partial — the audit
    // output is O(types) regardless of data size. ----
    "t19_k_anonymity" -> ((s, dir) => {
      val k = 5
      Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("class_size"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_classes"),
          count(when(col("class_size") < k, 1)).as("n_violating"),
          coalesce(sum(when(col("class_size") < k, col("class_size"))), lit(0L))
            .as("rows_at_risk"),
          min("class_size").as("min_class"))
        .orderBy("event_type")
    }),

    // ---- T20: content novelty — per document, the fraction of its
    // bigrams whose FIRST corpus occurrence is this document (doc_id
    // as ingest order). The curation signal that favors fresh content
    // over rehashes: a doc whose bigrams all debuted earlier is a
    // restatement even when no single source passes a dedup threshold.
    // owner = min(doc_id) per bigram — one hash aggregate — joined
    // back onto the per-doc bigram stream; DISTINCT bigram per doc
    // first, so a repeated phrase inside one doc counts once. All
    // BIGINT + integer-percent. Scale: two key-partitioned aggregates
    // (bigram, then doc), the d10/t16 shape. ----
    "t20_novelty" -> ((s, dir) => {
      // cached: the distinct (doc, bigram) set feeds BOTH the
      // first-owner table and the join back — uncached it re-parses
      // and re-explodes the corpus twice (d10's idiom; released
      // through Caches)
      val bg = Caches.trackCached(dir, Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
        .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
        .select(col("doc_id"), concat(col("p.w1"), lit("_"), col("p.w2")).as("g"))
        .distinct())
      val owner = bg.groupBy("g").agg(min("doc_id").as("first_doc"))
      bg.join(owner, Seq("g"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_distinct_bigrams"),
          count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
        // counts >= 0, so truncating div == DuckDB's flooring //
        .withColumn("novelty_pct", expr("(100 * n_novel) div n_distinct_bigrams"))
        .orderBy("doc_id")
    }),

    // ---- S16: schema-evolution read — the lake reality that a landing
    // zone accumulates files written under different schema versions
    // (here: a v2 writer added a `status` column). The fixture writes
    // both versions ONCE per (JVM, dir) and the query reads them back
    // with mergeSchema, so v1 rows surface NULL status, then
    // aggregates per effective status. At
    // 100 TB mergeSchema's footer-union runs on the driver over file
    // metadata only; the data never rewrites — which is the point of
    // the pattern vs a migration. ----
    "s16_schema_evolution" -> ((s, dir) => {
      val roots = evolutionFor(s, dir)
      s.read.option("mergeSchema", "true").parquet(roots: _*)
        .groupBy(coalesce(col("status"), lit("none")).as("status"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("status")
    })
  )

  // target mixture weights per source for t22 — binary-exact fractions
  // so floor/frac arithmetic is identical across engines' numeric types
  private lazy val mixtureWeights: Seq[(String, Double)] = Seq(
    "src1" -> 1.5, "src2" -> 0.25, "src3" -> 2.0, "src4" -> 0.75, "src5" -> 1.0)

  /** Largest-remainder (Hamilton) seat apportionment over a per-key
    * count frame — t33's α = 0.5 temperature mixture, factored so the
    * predicted-language mixture (t40) reuses the identical BIGINT
    * arithmetic: weights are floor(√n·10⁶) micro-units (sqrt is
    * IEEE-correctly-rounded on both engines, so the floor is
    * bit-identical), quotas are integer div/mod against the exact
    * integer weight total, leftover seats go to the largest integer
    * remainders (ties to key asc). Invariant: Σalloc = budget exactly.
    * The ranking window runs over the per-key aggregate (≤ |keys|
    * rows), never the corpus. */
  private def hamiltonAllocate(counts: DataFrame, keyCol: String,
      budget: Long): DataFrame = {
    val src = counts
      .withColumn("wm", floor(sqrt(col("n").cast("double")) * 1e6).cast("long"))
    val q = src.crossJoin(broadcast(src.agg(sum(col("wm")).as("w_tot"))))
      .withColumn("base", expr(s"($budget * wm) div w_tot"))
      .withColumn("rem", expr(s"($budget * wm) % w_tot"))
    q.crossJoin(broadcast(q.agg((lit(budget) - sum(col("base"))).as("leftover"))))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col(keyCol).asc)))
      .select(col(keyCol), col("n"), col("wm"), col("base"), col("rem"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(keyCol)
  }

  /** t39's PLANTED multilingual corpus: the fixture's `lang` column is
    * a random label over the same English token soup (measured: a
    * trigram classifier on the raw text scores ≈ chance), so the
    * linguistic signal is planted deterministically — each language
    * maps a distinct vowel subset to its own diacritic/CJK characters
    * (one `translate` pass, replayed verbatim by the DuckDB twin, the
    * t38 derive-in-query convention). The transform is what gives the
    * profiles disjoint high-mass trigram regions, like real
    * orthographies do. */
  private[graft] def plantedLangText: Column =
    when(col("lang") === "es", translate(col("text"), "aeio", "áéíó"))
      .when(col("lang") === "de", translate(col("text"), "aeou", "äëöü"))
      .when(col("lang") === "fr", translate(col("text"), "aeiu", "àéîû"))
      .when(col("lang") === "zh", translate(col("text"), "aeiou", "的一是不了"))
      .otherwise(col("text"))

  /** The planted corpus's per-doc char trigrams (one split-to-chars
    * pass + O(1) array indexing — the t23 discipline). */
  private def langGrams(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").isNotNull && length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), plantedLangText.as("t"))
      .withColumn("cs", split(col("t"), ""))
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, length(t) - 2)," +
          " i -> concat(cs[i - 1], cs[i], cs[i + 1]))")).as("g"))

  /** The TRAINED language profile — (plang, g, w) fixed-point weights,
    * top-200 grams per language — LANDED once per (JVM, dir) as a
    * plang-partitioned parquet artifact and served from the files
    * (the landed-index contract, profile edition: train once, every
    * batch/stream consumer reads the same bytes; a retrained profile
    * is a new landing). The artifact is bounded (≤ 200 rows per
    * language) whatever the corpus size — it always broadcasts. */
  private[graft] val t39ProfileSchema = "g STRING, w BIGINT, plang STRING"

  private[graft] def langProfileFor(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val path = Caches.landed(s, dir, "t39") { l =>
      val prof = langGrams(s, dir).filter(col("doc_id") % 5 =!= 0)
        .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      val tot = prof.groupBy("lang").agg(sum("cnt").as("tot"))
      prof
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("g").asc)))
        .filter(col("rk") <= 200)
        .join(tot, Seq("lang"))
        .select(col("lang").as("plang"), col("g"),
          expr("cnt * 1000000 div tot").as("w"))
        .write.mode("overwrite").partitionBy("plang").parquet(l.path)
      l.path
    }
    // explicit writer schema: an empty corpus lands fileless (s15 trap)
    s.read.schema(t39ProfileSchema).parquet(path)
  }

  /** t43's arrival carve — a SINGLE-language labeled batch inside the
    * training split (the common refresh shape: a new crawl slice
    * arrives for one locale), so the count-store write-back is
    * provably surgical: only the `lang=es` partition rewrites. */
  private[graft] def t43IsDelta: Column =
    col("lang") === "es" && pmod(col("doc_id"), lit(7L)) === 3

  /** t43's landed TRAINING-COUNT store — the mergeable sufficient
    * statistic behind t39's profile: raw (lang, gram) counts over the
    * PRE-DELTA labeled split, landed once per (JVM, dir) as
    * lang-partitioned parquet. Counts are additive (per-doc gram
    * multisets are disjoint), which is what makes profile refresh
    * O(delta): a newly labeled batch aggregates ALONE and ADDS into
    * the store — history is never re-tokenized — and the top-200
    * profile is a cheap derivation of the store (one window over
    * ≤ |vocab| count rows, no text in sight). At 100 TB the store
    * partitions by (lang, pmod(hash(g), B)) so a write-back rewrites
    * O(touched buckets); the lang-only layout here keeps the
    * surgical-write pin readable at 5 languages. */
  private[graft] val t43CountSchema = "g STRING, cnt BIGINT, lang STRING"

  private[graft] def langCountsFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "t43") { l =>
      langGrams(s, dir).filter(col("doc_id") % 5 =!= 0 && !t43IsDelta)
        .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
        .select(col("g"), col("cnt"), col("lang"))
        .repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(l.path)
      l.path
    }

  /** Score an arbitrary gram frame against the trained profile —
    * factored so t39 (the held-out split), t40 (its mixture), and
    * e21's full-corpus routing all run the identical argmax. */
  private[graft] def langVerdicts(s: org.apache.spark.sql.SparkSession,
      dir: String, test: DataFrame): DataFrame = {
    val weights = langProfileFor(s, dir)
      val hits = test.join(broadcast(weights), Seq("g"))
        .groupBy("doc_id", "plang").agg(sum("w").as("score"))
      // dense (doc × language) scores: a doc whose grams miss a
      // language's profile still competes with score 0 there, so the
      // argmax and margin are total functions of the language set
      val dense = test.select("doc_id", "lang").distinct()
        .crossJoin(broadcast(weights.select("plang").distinct()))
        .join(hits, Seq("doc_id", "plang"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
      val ranked = dense.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang").asc)))
      val bst = ranked.filter(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          col("plang").as("pred_lang"), col("score"))
      val snd = ranked.filter(col("rn") === 2)
        .select(col("doc_id"), col("score").as("score2"))
      bst.join(snd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("true_lang"), col("pred_lang"), col("score"),
          (col("score") - coalesce(col("score2"), lit(0L))).as("margin"),
          (col("pred_lang") === col("true_lang")).as("correct"))
  }

  /** t39's per-document language-ID frame, memoized per (JVM, dir)
    * because t40's mixture keys on the prediction. Char trigrams come
    * from ONE split-to-chars pass + O(1) array indexing (the t23
    * discipline — per-position substring re-scans UTF-8 from byte 0);
    * profile training is one (lang, gram) partial-aggregated shuffle
    * over the labeled split; the profile itself is df-capped to the
    * top-200 grams per language (count desc, gram asc) — a BOUNDED,
    * broadcastable artifact however large the corpus; scoring is one
    * gram equi-join against the broadcast profile + a per-doc groupBy.
    * Scores are BIGINT fixed-point frequencies (cnt·10⁶ div total):
    * log-odds would need ln(), which is NOT correctly-rounded across
    * engines (the t33 floor(sqrt) precedent covers only IEEE-exact
    * ops), so the linear-frequency surrogate keeps the argmax
    * integer-exact and cross-engine gateable. Argmax tie-break: score
    * desc, language asc; margin = best − runner-up. */
  private def langIdFor(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Caches.memo(s, dir, "t39_lang_id") {
      Caches.trackCached(dir,
        langVerdicts(s, dir, langGrams(s, dir).filter(col("doc_id") % 5 === 0)))
    }

  /** e21's routing input: EVERY routable document's verdict (the
    * profile still trains on the labeled split only — apply-time
    * covers the full corpus, production's offline-train/online-apply
    * shape), memoized because the funnel and its consumers replay it. */
  private[graft] def langVerdictsAll(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Caches.memo(s, dir, "e21_lang_verdicts") {
      Caches.trackCached(dir, langVerdicts(s, dir, langGrams(s, dir)))
    }

  /** S18's bucketed warehouse: orders and lineitem written ONCE per
    * (JVM, source dir) as catalog tables bucketed 8-ways on the join
    * key and sorted within buckets — the layout a 100 TB warehouse
    * maintains for its hottest join so the per-query exchange (and the
    * sort, when bucket-sorted) disappears entirely: each task reads
    * bucket i of BOTH sides and merges. Metadata lives in the session's
    * in-memory catalog; files under tmp via the external-table path
    * option. */
  private[graft] def bucketedFor(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    Caches.landed(s, dir, "s18", "orders", "lineitem") { l =>
      val Seq(oT, lT) = l.tables
      // repartition on the bucket column first: Spark's repartition and
      // bucket-file assignment share the same murmur3 hash, so each
      // write task holds exactly ONE bucket → one file per bucket —
      // the precondition for the scan to expose the in-bucket sort
      // order (multi-file buckets force a defensive Sort at read time)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"${l.path}/orders")
        .saveAsTable(oT)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"${l.path}/lineitem")
        .saveAsTable(lT)
      (oT, lT)
    }

  /** The s18 join body, factored so PlanSpec can pin the JOIN's plan in
    * isolation: both scans carry bucket-provided hash distribution and
    * in-bucket sort order, so the executed sort-merge join has ZERO
    * Exchange and zero Sort nodes — the merge hint only forces the
    * join STRATEGY (locally the fact side is small enough to
    * broadcast; at warehouse scale SMJ is what the planner picks
    * unaided, and the bucket layout is what makes it exchange-free). */
  private[graft] def s18Joined(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (oT, lT) = bucketedFor(s, dir)
    s.table(oT).hint("merge")
      .join(s.table(lT), col("o_orderkey") === col("l_orderkey"))
  }

  /** Morton (Z-order) key over two 16-bit dimensions: bit i of x lands
    * at position 2i, bit i of y at 2i+1. Disjoint bit positions mean
    * the fold can be a SUM (exact in any engine) instead of OR — the
    * DuckDB twin replays it with list_sum over the same 16 terms. Pure
    * map-side integer arithmetic: at 100 TB the key costs one
    * projection, and the one-time repartitionByRange(z) write buys
    * min/max row-group pruning on EVERY subsequent multi-dimensional
    * scan (the Delta/Iceberg OPTIMIZE ZORDER layout, expressed as
    * plain Spark; ZOrderSpec measures the pruning win directly).
    *
    * Emitted as a FLAT 32-term sum with constant bit positions, not an
    * `aggregate(sequence(0,15), …)` fold: the higher-order-function
    * form evaluates an interpreted lambda per row OUTSIDE whole-stage
    * codegen (16 boxed iterations each), which made s19 the suite's
    * slowest query at ~1× parallelism; the unrolled form is plain
    * integer arithmetic that codegens into the scan's projection. */
  private[graft] def zOrderKey(x: String, y: String): org.apache.spark.sql.Column = {
    // CAST to BIGINT before shifting: bit 15 of y lands at position 31,
    // which overflows a 32-bit shift if the input column is INT
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((CAST($x AS BIGINT) >> $i) & 1) << ${2 * i})",
      s"(((CAST($y AS BIGINT) >> $i) & 1) << ${2 * i + 1})"))
    expr(terms.mkString(" + "))
  }

  /** s25's day-partitioned backfill target, written ONCE per (JVM,
    * dir) — its OWN landing (never s15's: s25 mutates partitions in
    * place, and sharing would corrupt the read-only pruning gates).
    * The gated query then dynamic-overwrites a subset of days each
    * run; the overwrite is idempotent (same days, same derived rows),
    * so re-runs and bench passes converge to the same on-disk state. */
  private def backfillLandingFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Caches.landed(s, dir, "s25") { l =>
      Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        .write.mode("overwrite").partitionBy("day").parquet(l.path)
      l.path
    }

  /** s22/e16's change feed: orders collapsed to one change per
    * (customer, epoch-day), last order (max o_orderkey) wins — the
    * max(struct) picks the winner in ONE partial-aggregating pass, no
    * window needed before the shuffle. */
  private val scd2Cutoff = 9300L

  private def scd2Feed(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.orders(s, dir)
      .select(col("o_custkey").as("custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")
          .as("day"),
        struct(col("o_orderkey").as("ok"),
          col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast("long").as("cents")).as("st"))
      .groupBy("custkey", "day")
      .agg(max("st").as("st"))
      .select(col("custkey"), col("day"),
        col("st.priority").as("priority"), col("st.cents").as("cents"))

  /** Change feed → SCD2 versions: one window per key ordered by day
    * gives version number, valid_from, and valid_to = next version's
    * start (NULL = open/current). One shuffle on the dimension key —
    * the same partitioning the merge joins then reuse. */
  private def scd2Versions(feed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("custkey").orderBy("day")
    feed
      .withColumn("ver", row_number().over(w).cast("long"))
      .withColumn("valid_from", col("day"))
      .withColumn("valid_to", lead("day", 1).over(w))
      .drop("day")
  }

  lazy val queriesExtra: Map[String, QueryFn] = Map(
    // ---- S19: Z-order clustering key — the layout query behind
    // multi-dimensional pruning: interleaving (part, supplier) bits
    // gives one sort key under which row groups become tight boxes in
    // BOTH dimensions, so a conjunctive box predicate skips row groups
    // on either column's min/max stats (sorting by only one column
    // leaves the other's stats full-range — useless). The gate groups
    // the corpus by coarse z-bucket and reports each bucket's per-dim
    // bounding box: the spatial-coherence property the pruning rests
    // on, hash-exact in pure BIGINT. ----
    "s19_zorder_cluster" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(expr("l_partkey & 65535").as("x"), expr("l_suppkey & 65535").as("y"))
        .withColumn("z", zOrderKey("x", "y"))
        .groupBy(expr("z div 65536").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("zbucket")
    }),

    // ---- E14: incremental aggregate maintenance — the materialized-
    // view refresh a 100 TB warehouse actually runs: the nightly
    // rollup is NEVER recomputed from the full fact table; the stored
    // base aggregate merges with the delta's partial aggregate,
    // touching O(keys + delta) rows instead of O(history). The gate
    // splits orders at a cutoff day, aggregates each side separately,
    // and merges via union + re-aggregate — (count, sum) are the
    // algebraic decomposition (avg derives from the merged sums, never
    // averaged directly: avg-of-avgs is the classic wrong answer).
    // The DuckDB twin recomputes from the FULL table, so hash equality
    // is a machine-checked proof that merge(partial(A), partial(B)) ==
    // direct(A ∪ B) — the property every incremental pipeline rests
    // on. All BIGINT; avg via integer div. ----
    "e14_incremental_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("day", expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      def part(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n"), sum("cents").as("cents"))
      part(o.filter(col("day") < 9500))
        .unionByName(part(o.filter(col("day") >= 9500)))
        .groupBy("o_orderpriority")
        .agg(sum("n").as("n"), sum("cents").as("cents"))
        .withColumn("avg_cents", expr("cents div n"))
        .orderBy("o_orderpriority")
    }),

    // ---- E18: dynamic partition pruning — the join-shaped cousin of
    // s15's static pruning, and the optimizer feature that decides
    // whether a 100 TB day-partitioned fact scan reads 3 partitions or
    // 3,000: the qualifying days are NOT a literal (they come from a
    // filtered dim subquery), so static pruning cannot apply; Spark
    // instead broadcasts the dim and injects its day set into the
    // fact scan's PartitionFilters at runtime (PlanSpec pins the
    // `dynamicpruning` subquery in the scan). The fact side is s15's
    // day-partitioned landing — a REAL partitioned layout, so the
    // pruning is file-listing-level, not row-level. Aggregation output
    // is exact BIGINT cents; the twin replays the semi-join
    // relationally (DuckDB has no partition concept — same answer,
    // different physics, which is the point of the gate). ----
    "e18_dpp_join" -> ((s, dir) => {
      // explicit schema: an empty events slice lands fileless (s15's
      // documented inference trap) — empty in must mean empty out
      val landedSchema = Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000")).schema
      val fact = s.read.schema(landedSchema).parquet(landingFor(s, dir))
      val dim = Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        .filter(col("event_type") === "purchase" && col("value") >= 300.0)
        .select("day").distinct()
      fact.join(broadcast(dim), Seq("day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .orderBy("event_type")
    }),

    // ---- S25: dynamic-partition-overwrite backfill — e18's write-path
    // counterpart and the op behind every "re-run yesterday's
    // pipeline" correction: the revised rows land with
    // `partitionOverwriteMode=dynamic`, which replaces ONLY the
    // partitions present in the delta (here the day % 7 == 3 days,
    // value doubled) and leaves every other day's files physically
    // untouched — static overwrite mode would truncate the whole
    // table, THE classic backfill data-loss bug, and SinkSpec pins the
    // untouched-partition file lists to prove dynamic semantics. At
    // 100 TB this is the difference between rewriting 1/7th of a table
    // and all of it. The gate reads the merged state back and
    // aggregates per day; the twin recomputes the expected merged
    // table relationally. Idempotent by construction, so bench re-runs
    // converge. ----
    "s25_backfill_overwrite" -> ((s, dir) => {
      val out = backfillLandingFor(s, dir)
      Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        .filter(col("day") % 7 === 3)
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(out)
      // explicit schema — same fileless-landing trap as s15/e18
      val landedSchema = Tables.events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000")).schema
      s.read.schema(landedSchema).parquet(out)
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .withColumn("replaced", col("day") % 7 === 3)
        .orderBy("day")
    }),

    // ---- E17: retraction merge — e14 handles INSERT-only deltas; real
    // change feeds carry corrections and deletes, and recomputing the
    // 100 TB rollup for either is the failure mode incremental view
    // maintenance exists to avoid. The DBSP/Z-set form: every change
    // becomes a signed partial — a correction emits (Δcount=0,
    // Δsum=new−old), a delete emits (−1, −old) — and merge is the SAME
    // union + re-aggregate as the insert path, because (count, sum) is
    // an abelian-group aggregate where retraction is just a negative
    // element. Deletes win over corrections on the same key. The twin
    // recomputes from the CORRECTED table from scratch, so hash
    // equality proves base ⊕ signed-delta ≡ recompute(corrected) — in
    // exact BIGINT, where the proof is unconditional (float partials
    // would reorder). At scale: the base aggregate is a stored table
    // (here recomputed inline, e14's convention) and the delta side
    // touches O(changes) rows. ----
    "e17_retraction_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = o.select(col("o_orderpriority"),
        lit(1L).as("dn"), col("cents").as("dc"))
      // corrections: +10% price on o_orderkey % 50 == 7 (unless deleted)
      val corrections = o
        .filter(col("o_orderkey") % 50 === 7 && col("o_orderkey") % 97 =!= 3)
        .select(col("o_orderpriority"), lit(0L).as("dn"),
          (expr("cents * 110 div 100") - col("cents")).as("dc"))
      // deletes: full retraction of o_orderkey % 97 == 3
      val deletes = o.filter(col("o_orderkey") % 97 === 3)
        .select(col("o_orderpriority"), lit(-1L).as("dn"), (-col("cents")).as("dc"))
      base.unionByName(corrections).unionByName(deletes)
        .groupBy("o_orderpriority")
        .agg(sum("dn").as("n"), sum("dc").as("cents"))
        // a fully-retracted group folds to n=0 — the from-scratch
        // recompute (the oracle) has no such group at all, so drop it
        // here rather than emit an n=0 / NULL-avg ghost row
        .filter(col("n") =!= 0)
        .withColumn("avg_cents", expr("cents div n"))
        .orderBy("o_orderpriority")
    }),

    // ---- S22: SCD Type-2 dimension MERGE — the versioned-dimension
    // maintenance every warehouse runs nightly: the customer dimension
    // keeps FULL history as validity intervals ([valid_from, valid_to),
    // open = current), and the nightly job merges a change delta WITHOUT
    // rebuilding history — close the affected keys' open rows at the
    // delta's first change day, append the delta's own versions with
    // continued numbering. The engine executes exactly that incremental
    // path (history = feed < cutoff, delta = feed ≥ cutoff); the DuckDB
    // twin rebuilds SCD2 from the FULL feed in one window pass, so hash
    // equality is a machine-checked proof that merge(build(hist), delta)
    // ≡ build(hist ∪ delta) — the invariant that lets the 100 TB
    // dimension update touch O(delta + affected-keys) rows instead of
    // O(history). Scale: the change feed collapses last-wins per
    // (key, day) map-side-partially; the version window shuffles by key
    // once; the two merge joins are keyed equi-joins against the
    // delta-keys aggregate (batch-sized in production — broadcastable;
    // left unhinted here so AQE decides at runtime). All BIGINT. ----
    "s22_scd2_merge" -> ((s, dir) => {
      val hist  = scd2Versions(scd2Feed(s, dir).filter(col("day") < scd2Cutoff))
      val delta = scd2Feed(s, dir).filter(col("day") >= scd2Cutoff)
      // first change day + version offset per affected key
      val d0 = delta.groupBy("custkey").agg(min("day").as("d0"))
      val base = hist.groupBy("custkey").agg(count(lit(1)).as("base"))
      val closed = hist.join(d0, Seq("custkey"), "left")
        .withColumn("valid_to", coalesce(col("valid_to"), col("d0")))
        .drop("d0")
      val appended = scd2Versions(delta).join(base, Seq("custkey"), "left")
        .withColumn("ver", col("ver") + coalesce(col("base"), lit(0L)))
        .drop("base")
      closed.unionByName(appended)
        .withColumn("is_current", col("valid_to").isNull)
        .select("custkey", "ver", "valid_from", "valid_to",
          "priority", "cents", "is_current")
        .orderBy("custkey", "ver")
    }),

    // ---- E16: point-in-time join against the SCD2 dimension — the
    // consumer that makes the validity intervals pay: each shipment is
    // enriched with the customer version that was CURRENT at ship time
    // (not today's row — joining facts to a type-1 dim is the classic
    // retroactive-history bug). Executed as [[AsOfJoin]] on
    // (custkey, valid_from ≤ shipday, latest wins): one shuffle + one
    // sort, linear, no interval explosion — correct because SCD2
    // intervals are contiguous per key, so "latest version starting
    // ≤ t" ≡ "version whose interval contains t". The twin uses
    // DuckDB's native ASOF LEFT JOIN (textbook form), so the gate
    // proves the union-sort-carry formulation ≡ interval semantics;
    // facts before a key's first version keep the NULL group. The gate
    // aggregates to per-priority checksums (count + day and version
    // sums) — any misassigned fact shifts a sum. ----
    "e16_pit_join" -> ((s, dir) => {
      val dim = scd2Versions(scd2Feed(s, dir))
      val facts = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01') AS BIGINT)")
            .as("shipday"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey").as("custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("custkey"), col("shipday"))
      graft.operators.AsOfJoin.join(facts, dim, Seq("custkey"),
          col("shipday"), col("valid_from"), Seq("ver", "priority"),
          col("ver"), "v")
        .groupBy(col("v.priority").as("priority"))
        .agg(count(lit(1)).as("n"), sum("shipday").as("sum_day"),
          sum(col("v.ver")).as("sum_ver"))
        .orderBy("priority")
    }),

    // ---- T37: token-budget curation — the selection step that turns
    // "we scored every document" into "here is the training set": each
    // source keeps its highest-quality documents until its token
    // budget (40% of its own token mass — a uniform downsampling rate
    // under quality ordering) is spent; the document that crosses the
    // budget line is admitted (exclusive prefix < budget), making the
    // cut deterministic and integer-exact. Executed with the grouped
    // distributed prefix-sum ([[graft.operators.GlobalOrder
    // .withRunningTotalWithin]]): range shards scan in parallel, only
    // per-(shard, source) totals cross a broadcast join — no
    // single-partition window, so the skewed-source case (one source
    // holding most of a 100 TB corpus) cannot funnel through one task.
    // The DuckDB twin is the textbook `sum() OVER (PARTITION BY source
    // ORDER BY quality DESC)` replay, so hash equality proves the
    // sharded prefix-sum ≡ the sequential window. ----
    "t37_budget_curation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"),
          col("n_chars").as("q"))
      val ordered = graft.operators.GlobalOrder.withRunningTotalWithin(
        docs, "cum", Seq("source"), col("toks"), col("q").desc, col("doc_id"))
      // budgets aggregate the SAME tokenized frame post-prefix-sum:
      // both consumers share the operator's range exchange (ReuseExchange
      // dedupes the identical subtree), so the corpus text is scanned
      // and tokenized ONCE — the previous independent derivation cost a
      // second full text pass (real money at 100 TB)
      val budgets = ordered
        .groupBy("source")
        .agg(expr("CAST(sum(toks) * 4 div 10 AS BIGINT)").as("budget"))
      ordered.join(broadcast(budgets), Seq("source"))
        .filter(col("cum") < col("budget"))
        .groupBy("source")
        .agg(max("budget").as("budget"),
          count(lit(1)).as("n_kept"),
          sum("toks").as("kept_tokens"),
          min("q").as("min_quality"))
        .orderBy("source")
    }),

    // ---- T38: corpus snapshot diff — the dataset-versioning audit
    // (DVC/LakeFS shape) every managed training corpus needs: given
    // snapshot A and snapshot B, report per-status (added / removed /
    // changed / unchanged) document and character counts. Snapshot B
    // is derived deterministically (doc_id % 13 == 8 removed,
    // % 11 == 5 revised, % 17 == 2 re-added under a shifted id) so
    // the twin can replay it. Mechanics that matter at 100 TB: ONE
    // hash-partitioned full-outer join on the key; presence flags —
    // not text nullness — decide added/removed (a null-text document
    // present in both snapshots is 'unchanged', not 'added': the
    // null-riddled sweep exists exactly for this trap); change
    // detection is null-safe equality evaluated map-side post-join.
    // In production the text compare would be a stored content hash —
    // same join shape, smaller payload. ----
    "t38_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = docs.select(col("doc_id"), col("text").as("text_a"), lit(1).as("in_a"))
      val b = docs.filter(col("doc_id") % 13 =!= 8)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 5, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text_b"))
        .unionByName(docs.filter(col("doc_id") % 17 === 2)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text").as("text_b")))
        .withColumn("in_b", lit(1))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("in_a").isNull, "added")
            .when(col("in_b").isNull, "removed")
            .when(!(col("text_a") <=> col("text_b")), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text_b"))).as("chars_new"))
        .orderBy("status")
    }),

    // ---- T39: per-document language identification — the FIRST
    // routing decision a multilingual crawl makes, and the key every
    // per-language curation op (mixture, per-lang dedup, per-lang
    // quality) needs: character-trigram frequency profiles trained on
    // the labeled split (doc_id % 5 != 0) of the planted multilingual
    // corpus ([[plantedLangText]]), each unlabeled document scored by
    // BIGINT fixed-point profile weights and assigned its argmax
    // language with a margin. fastText-class mechanics, Spark-first
    // shape: the profile is a df-capped top-200-grams-per-language
    // BROADCAST artifact (bounded at any corpus size), training is one
    // partial-aggregated (lang, gram) shuffle, scoring is one
    // broadcast equi-join + per-doc groupBy — no corpus-side window,
    // no UDF. The DuckDB twin replays the transform, the training AND
    // the scoring, so profile construction is hash-checked too. See
    // [[langIdFor]] for the integer-exactness argument. ----
    "t39_lang_id" -> ((s, dir) => langIdFor(s, dir).orderBy("doc_id")),

    // ---- T49: language-ID on the COMMITTED PUBLIC multilingual
    // sample — t39's exact algebra (char trigrams, top-120 profile,
    // BIGINT fixed-point frequency scoring, dense argmax + margin)
    // with the planted orthography surrogate replaced by five real
    // languages (PublicLangSample — parallel translations, so the
    // classifier provably keys on orthography and function words, not
    // topic). Train on sid % 3 != 0, score the held-out third; the
    // twin regenerates the SAME sample from the same object (derive-
    // in-query), so the hash gate proves the trained-profile scoring
    // identical across engines, and QualitySpec pins recovery well
    // above the 20% chance floor. ----
    "t49_public_lang_id" -> ((s, dir) => {
      import s.implicits._
      val sample = PublicLangSample.rows.toDF("sid", "lang", "text")
      val grams = sample
        .withColumn("cs", split(col("text"), ""))
        .select(col("sid"), col("lang"), explode(expr(
          "transform(sequence(1, length(text) - 2)," +
            " i -> concat(cs[i - 1], cs[i], cs[i + 1]))")).as("g"))
      val prof = grams.filter(col("sid") % 3 =!= 0)
        .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      val tot = prof.groupBy("lang").agg(sum("cnt").as("tot"))
      val wts = prof
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("g").asc)))
        .filter(col("rk") <= 120)
        .join(tot, Seq("lang"))
        .select(col("lang").as("plang"), col("g"),
          expr("cnt * 1000000 div tot").as("w"))
      val test = grams.filter(col("sid") % 3 === 0)
      val hits = test.join(broadcast(wts), Seq("g"))
        .groupBy("sid", "plang").agg(sum("w").as("score"))
      val dense = test.select("sid", "lang").distinct()
        .crossJoin(broadcast(wts.select("plang").distinct()))
        .join(hits, Seq("sid", "plang"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
      val ranked = dense.withColumn("rn", row_number().over(
        Window.partitionBy("sid").orderBy(col("score").desc, col("plang").asc)))
      val bst = ranked.filter(col("rn") === 1)
        .select(col("sid"), col("lang").as("true_lang"),
          col("plang").as("pred_lang"), col("score"))
      val snd = ranked.filter(col("rn") === 2)
        .select(col("sid"), col("score").as("score2"))
      bst.join(snd, Seq("sid"), "left")
        .select(col("sid"), col("true_lang"), col("pred_lang"), col("score"),
          (col("score") - coalesce(col("score2"), lit(0L))).as("margin"),
          (col("pred_lang") === col("true_lang")).as("correct"))
        .orderBy("sid")
    }),

    // ---- T40: predicted-language temperature mixture — t33's α = 0.5
    // apportionment keyed by t39's PREDICTION, wiring language ID into
    // the sampling stage the way a production multilingual pipeline
    // chains them (route → rebalance): per predicted language, the
    // scored split's document count feeds the same Hamilton
    // largest-remainder BIGINT arithmetic; Σalloc = budget exactly.
    // The composition is the point of the gate — the twin replays
    // lang-ID end-to-end INSIDE the mixture query. ----
    "t40_predlang_mix" -> ((s, dir) =>
      hamiltonAllocate(
        langIdFor(s, dir).groupBy("pred_lang")
          .agg(count(lit(1)).cast("long").as("n")),
        "pred_lang", 100000L)),

    // ---- T43: INCREMENTAL profile refresh — the maintenance leg of
    // t39's landed language profile: the trained profile is a pure
    // derivation of per-(lang, gram) TRAINING COUNTS, and counts are
    // the mergeable sufficient statistic — a newly labeled arrival
    // batch aggregates ALONE (O(delta) text work) and adds into the
    // landed count store; the refreshed top-200 profile then derives
    // from the store without re-tokenizing history. Count addition is
    // NOT idempotent (unlike d29's label merge), so the write-back
    // carries the exactly-once discipline every production count store
    // needs: an applied-batch marker in the landing makes a replayed
    // batch a no-op instead of a double-count (QualitySpec pins the
    // no-op, the double-count trap, and the surgical single-partition
    // rewrite). The oracle is the FULL retrain over the whole labeled
    // split (t39's own wts CTE), so the hash gate proves
    // derive(counts(hist) + counts(delta)) ≡ train(hist ∪ delta). ----
    "t43_profile_refresh" -> ((s, dir) => {
      val path = langCountsFor(s, dir)
      def store = s.read.schema(t43CountSchema).parquet(path)
      val marker = new java.io.File(path, "_applied_batch_1")
      if (!marker.exists()) {
        val deltaCounts = langGrams(s, dir)
          .filter(col("doc_id") % 5 =!= 0 && t43IsDelta)
          .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
        val touched = deltaCounts.select("lang").distinct()
        // full content of each touched partition = old + delta counts,
        // summed; the checkpoint cuts lineage back to the store so the
        // dynamic overwrite isn't a self-read
        val merged = Caches.checkpointed(dir,
          store.join(touched, Seq("lang"), "left_semi")
            .unionByName(deltaCounts.select(col("g"), col("cnt"), col("lang")))
            .groupBy("lang", "g").agg(sum("cnt").as("cnt"))
            .select(col("g"), col("cnt"), col("lang")))
        merged.repartition(col("lang"))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("lang").parquet(path)
        marker.createNewFile()
      }
      val counts = store
      val tot = counts.groupBy("lang").agg(sum("cnt").as("tot"))
      counts
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("g").asc)))
        .filter(col("rk") <= 200)
        .join(tot, Seq("lang"))
        .select(col("g"), expr("cnt * 1000000 div tot").as("w"),
          col("lang").as("plang"))
        .orderBy("plang", "g")
    }),

    // ---- T42: INCREMENTAL sequence packing — t41's append path, the
    // IVM leg that makes packing viable on a growing corpus: ingest
    // appends documents with ids AFTER the packed history (the
    // monotone-id append contract every log-structured corpus store
    // provides), so the history's prefix sums are FROZEN — the delta
    // re-packs alone, offset by the landed token total (one scalar),
    // and unions with the historical manifest untouched. Work is
    // O(delta), not O(corpus); the oracle is t41's FULL sequential
    // recompute over everything, so the hash gate proves
    // pack(hist) ∪ shift(pack(delta)) ≡ pack(hist ∪ delta) — e14's
    // incremental discipline applied to the packing manifest. The
    // cutoff derives from the corpus's own id quantile (top ~20% of
    // ids play the arrival batch), mirrored exactly by the twin. ----
    "t42_incremental_packing" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks"))
      val cut = docs.agg((max("doc_id") * 4 / 5).cast("long").as("cut"))
      val tagged = docs.crossJoin(broadcast(cut))
      val hist = tagged.filter(col("doc_id") < col("cut")).select("doc_id", "toks")
      val delta = tagged.filter(col("doc_id") >= col("cut")).select("doc_id", "toks")
      // in production histPacked is the LANDED manifest and histTotal a
      // stored scalar; here both recompute inline (e14's convention —
      // the gate proves the merge algebra, the landing is t41's shape)
      val histPacked = graft.operators.GlobalOrder
        .withRunningTotal(hist, "cum", col("toks"), col("doc_id"))
      val histTotal = hist.agg(coalesce(sum("toks"), lit(0L)).as("base"))
      val deltaPacked = graft.operators.GlobalOrder
        .withRunningTotal(delta, "cum", col("toks"), col("doc_id"))
        .crossJoin(broadcast(histTotal))
        .withColumn("cum", col("cum") + col("base"))
        .drop("base")
      histPacked.unionByName(deltaPacked)
        .select(col("doc_id"), col("toks"), col("cum"),
          expr("cum div 512").as("seq_first"),
          expr("cum % 512").as("seq_off"),
          expr("(cum + toks - 1) div 512").as("seq_last"))
        .withColumn("n_crossings", col("seq_last") - col("seq_first"))
        .orderBy("doc_id")
    }),

    // ---- T41: sequence packing — the step between curation and the
    // trainer: GPT-style concat-and-chunk, where the tokenized corpus
    // is concatenated in a deterministic order and cut into fixed
    // 512-token training sequences (padding waste → 0; a document may
    // span a chunk boundary). The whole operator is the DISTRIBUTED
    // prefix sum ([[graft.operators.GlobalOrder.withRunningTotal]] —
    // range shards scan locally, shard totals cross a broadcast
    // triangular join, no single-partition window anywhere) plus
    // map-side integer div/mod: each document's first/last sequence id,
    // offset within its first sequence, and how many chunk boundaries
    // it crosses — exactly the manifest a data loader needs to slice
    // batches without materializing the concatenation. The twin is the
    // sequential `sum() OVER (ORDER BY doc_id)` window, so the gate
    // proves the sharded prefix sum ≡ the single-task semantics at
    // BIGINT exactness. ----
    "t41_sequence_packing" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks"))
      graft.operators.GlobalOrder
        .withRunningTotal(docs, "cum", col("toks"), col("doc_id"))
        .select(col("doc_id"), col("toks"), col("cum"),
          expr("cum div 512").as("seq_first"),
          expr("cum % 512").as("seq_off"),
          expr("(cum + toks - 1) div 512").as("seq_last"))
        .withColumn("n_crossings", col("seq_last") - col("seq_first"))
        .orderBy("doc_id")
    }),

    // ---- T44: SHARDED sequence packing — the layout a 1000-executor
    // packer actually ships: each source owns an independent sequence
    // space, so packing is the GROUPED distributed prefix sum
    // ([[graft.operators.GlobalOrder.withRunningTotalWithin]], t37's
    // operator) — per-source order without a single-partition window,
    // and appends to one source never renumber any other (the
    // operational reason real corpora pack per shard; t41 is the
    // single-space variant). Also the batch twin of the STATEFUL
    // stream packer ([[graft.streaming.EventStream.packSequences]]),
    // whose per-source running-total state is exactly this query's
    // group prefix. ----
    "t44_sharded_packing" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
      graft.operators.GlobalOrder
        .withRunningTotalWithin(docs, "cum", Seq("source"), col("toks"),
          col("doc_id").asc_nulls_last) // nulls-last — the s21 convention
        .select(col("doc_id"), col("source"), col("toks"), col("cum"),
          expr("cum div 512").as("seq_first"),
          expr("cum % 512").as("seq_off"),
          expr("(cum + toks - 1) div 512").as("seq_last"))
        .withColumn("n_crossings", col("seq_last") - col("seq_first"))
        .orderBy("doc_id")
    }),

    // ---- S24: declarative constraint audit — the Deequ/dbt-test
    // shape: a constraint SET (not-null, key uniqueness, range,
    // accepted values, two referential-integrity legs) evaluated as
    // ONE conditional-aggregation pass per table instead of one scan
    // per constraint — the difference between auditing a 100 TB table
    // in a day and in an hour. The scan-level rules fold into a single
    // hash aggregate over each table (count-distinct rides the same
    // aggregate via expand); each FK leg is one left join with the
    // violation counted map-side (the dim side broadcasts when small;
    // the fact-fact leg is a plain keyed join the planner sizes).
    // Output is one row per rule: checked and violated counts, exact
    // BIGINT, hash-gated against DuckDB's direct per-rule SQL. ----
    "s24_constraint_audit" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val scanAgg = o.agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), lit(0L)).as("v_nn"),
        (count(lit(1)) - countDistinct("o_orderkey")).as("v_uq"),
        coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)), lit(0L)).as("v_rng"),
        coalesce(sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)), lit(0L)).as("v_acc"))
      def fkLeg(rule: String, fact: org.apache.spark.sql.DataFrame, key: String,
          dimKeys: org.apache.spark.sql.DataFrame, dimKey: String) =
        fact.select(col(key)).filter(col(key).isNotNull)
          .join(dimKeys.select(col(dimKey)), col(key) === col(dimKey), "left")
          .agg(count(lit(1)).as("n_checked"),
            coalesce(sum(when(col(dimKey).isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_violations"))
          .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"))
      scanAgg.select(expr(
          "stack(4, " +
            "'orders.o_custkey NOT NULL', n, v_nn, " +
            "'orders.o_orderkey UNIQUE', n, v_uq, " +
            "'orders.o_totalprice > 0', n, v_rng, " +
            "'orders.o_orderstatus IN (O,F,P)', n, v_acc" +
          ") AS (rule, n_checked, n_violations)"))
        .unionByName(fkLeg("orders.o_custkey REFERENCES customer",
          o, "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .unionByName(fkLeg("lineitem.l_orderkey REFERENCES orders",
          Tables.lineitem(s, dir), "l_orderkey", o, "o_orderkey"))
        .orderBy("rule")
    }),

    // ---- S18: bucketed co-located join — the warehouse-layout answer
    // to the suite's biggest repeated shuffle: pre-bucketing both
    // sides of the orders⋈lineitem join on the join key makes the
    // per-query exchange vanish (bucket i joins bucket i, merge order
    // comes free from sortBy) — at 100 TB this turns the nightly
    // fact-join family from shuffle-bound to scan-bound. The gate
    // aggregates the joined rows to priority-level revenue; the DuckDB
    // twin runs the plain join on the ORIGINAL parquet, so the hash
    // gate proves the bucketed layout changed nothing but the plan
    // (PlanSpec pins the join subtree exchange- and sort-free). ----
    "s18_bucketed_join" -> ((s, dir) => {
      s18Joined(s, dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- T21: sequence packing — the concat-then-chunk layout every
    // LLM training pipeline runs before batching: documents in a fixed
    // global order are concatenated and cut into CTX-token windows,
    // and each document reports the pack span it lands in. The whole
    // operator is one distributed prefix-sum ([[GlobalOrder
    // .withRunningTotal]]: range shards scan in parallel, only the ≤ P
    // per-shard totals cross a broadcast join — no single-partition
    // window anywhere, PlanSpec-pinned), so it holds at 100 TB where
    // `sum() OVER (ORDER BY ...)` funnels the corpus through one task.
    "t21_sequence_pack" -> ((s, dir) => {
      val ctx = 512
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.GlobalOrder
        .withRunningTotal(docs, "start_offset", col("n_tokens"),
          col("doc_id").asc_nulls_last) // nulls-last — the s21 convention
        .withColumn("first_pack", expr(s"start_offset div $ctx"))
        .withColumn("last_pack", expr(s"(start_offset + n_tokens - 1) div $ctx"))
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("first_pack"), col("last_pack"),
          (col("last_pack") - col("first_pack") + 1).as("n_packs"))
        .orderBy("doc_id")
    }),

    // ---- T22: mixture resampling — per-source target weights
    // (up/down-sampling a source mix toward a training recipe) turned
    // into a deterministic per-document multiplicity: floor(w) copies
    // plus one more iff the doc's multiplicative hash lands under
    // frac(w). Pure map-side projection (no shuffle, no RNG — the same
    // hash idiom as d7's deterministic sampler, so reruns and the
    // DuckDB twin agree bit-for-bit); the actual resample is then
    // `explode(sequence(1, multiplicity))` by the consumer. ----
    "t22_mixture_resample" -> ((s, dir) => {
      val w = mixtureWeights.foldRight(lit(1.0)) { case ((src, wt), acc) =>
        when(col("source") === src, lit(wt)).otherwise(acc)
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), w.as("weight"),
          // id reduced mod p before the multiply (d27's advisor fix):
          // a wrapped negative product % 1000 is negative — always
          // below the fraction, over-counting every overflowed id
          (floor(w) + when(pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L,
              lit(1000000007L)) % 1000 <
            (w - floor(w)) * 1000, 1L).otherwise(0L)).cast("long").as("multiplicity"))
        .orderBy("doc_id")
    }),

    // ---- T23: BPE merge-step pair counting — the kernel of tokenizer
    // training: character-pair frequencies over the corpus, each pair
    // weighted by how often its word occurs. The classic BPE trick IS
    // the scale plan: aggregate the corpus to its distinct-word
    // frequency table first (one map-side-combining shuffle on the
    // word), then explode pairs over the VOCABULARY — vocab-sized, not
    // corpus-sized, and vocabulary grows ~Heaps-law sublinearly while
    // the corpus grows to 100 TB. Pair counts partial-aggregate
    // map-side; top-50 is a TakeOrdered, no global sort. ----
    "t23_bpe_pairs" -> ((s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("freq"))
      // pairs come from one split-to-chars pass + O(1) array indexing,
      // NOT substring(w, i, 2) per position: UTF-8 offsets aren't
      // random-access, so per-position substring re-scans the word from
      // byte 0 — O(|w|²) on a degenerate multi-megabyte single token
      // (the mojibake-sweep shape), where this form stays O(|w|)
      words
        .withColumn("cs", split(col("w"), ""))
        .select(col("freq"), explode(
          expr("transform(sequence(1, length(w) - 1), i -> concat(cs[i - 1], cs[i]))")).as("pair"))
        .groupBy("pair").agg(sum("freq").cast("long").as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair").asc)
        .limit(50)
    }),

    // ---- T24: exact stratified train/val/test split — per-source
    // 80/10/10 by deterministic hash rank, EXACT within every stratum
    // (floor arithmetic on the stratum size), not just in expectation
    // like the t22/d7 hash-threshold idiom. Exactness needs each doc's
    // rank within its stratum; the naive `row_number() OVER (PARTITION
    // BY source ...)` funnels each source through one task — a
    // scale-killer when one source is half the corpus — so the rank
    // comes from [[GlobalOrder.withPositionWithin]] (range shards scan
    // in parallel; only per-(shard, group) counts cross a broadcast
    // join). Output is the per-(source, split) audit a curator signs
    // off on. ----
    // ---- T25: overlapping context-window chunking — the doc→window
    // layout step for RAG indexing and long-doc pretraining: windows
    // of 256 tokens at stride 192 (64-token overlap), last window
    // clamped to the doc end. Pure map-side sequence explode — no
    // shuffle at all, output rows ∝ input tokens — so the plan is a
    // single projection stage at any corpus size. Integer arithmetic
    // start/end keeps the twin exact. ----
    "t25_chunk_overlap" -> ((s, dir) => {
      val win = 256; val stride = 192
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("n_chunks",
          when(col("n_tokens") <= win, lit(1L)).otherwise(
            lit(1L) + expr(s"(n_tokens - $win + $stride - 1) div $stride")))
        .select(col("doc_id"), col("n_tokens"),
          posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("chunk_id", "_c")))
        .select(col("doc_id"), col("n_tokens"), col("chunk_id").cast("long").as("chunk_id"),
          (col("chunk_id") * stride).as("start_tok"),
          least(col("chunk_id") * stride + win, col("n_tokens")).as("end_tok"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- T27: BPE merge training — the iterative half of the
    // tokenizer story t23 opens: three rounds of learn-the-top-pair →
    // merge-it-corpus-wide, exactly how BPE vocabularies are built.
    // Same distributed-training shape as x14's Lloyd: per round the
    // driver collects ONE row (the argmax pair — the model update),
    // while pair counting and the greedy left-to-right token merge run
    // distributed over the VOCABULARY table (distinct words × freq,
    // the t23 trick — corpus scale never touches the loop). The
    // DuckDB twin replays all three rounds with a string-encoded fold,
    // so learned merges, their counts, and the final symbol stats are
    // one hash gate. ----
    "t27_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val (vocab, merges) = bpeFor(s, dir)
      val corpus = vocab
        .agg((sum(col("freq") * size(col("sym")))).cast("long").as("corpus_symbols"))
      val vs = vocab.select(explode(col("sym")).as("sy"))
        .agg(countDistinct("sy").cast("long").as("vocab_symbols"))
      merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .crossJoin(broadcast(vs)).crossJoin(broadcast(corpus))
        .select(col("merge_rank"), col("lhs"), col("rhs"), col("pair_count"),
          col("vocab_symbols"), col("corpus_symbols"))
        .orderBy("merge_rank")
    }),

    // ---- T34: BPE corpus encoding — the APPLY half of t27's training
    // loop, closing the tokenizer story: every document is encoded
    // with the learned merges and the per-source token economics
    // reported (the number a data buyer actually asks for: tokens per
    // word after merging, in basis points). The at-scale shape is the
    // important part: encoding never re-runs the merge loop per
    // document — the trained state IS a (word → symbol count) table
    // distributed over the VOCABULARY (t23/t27's trick), so the
    // corpus pass is one CapGated equi-join of the token stream
    // against the vocab (broadcast under the cap, shuffle past it)
    // and a per-source aggregate. All counts BIGINT. ----
    "t34_bpe_encode" -> ((s, dir) =>
      bpeEncodeWith(s, dir, bpeFor(s, dir)._1
        .select(col("w"), size(col("sym")).cast("long").as("n_tok")))),

    // ---- T50: BPE encoding served from the LANDED model — t34's
    // encode join reading the versioned artifact ([[bpeModelFor]]'s
    // vocab/ apply table) instead of the per-JVM memo, completing the
    // tokenizer's train-once/serve-many story (every other index
    // family already had its landed leg). The oracle is t34's full
    // retrain-and-encode replay, so the hash gate proves landed-model
    // encoding ≡ memoized-model encoding ≡ the from-scratch twin. ----
    "t50_bpe_landed_encode" -> ((s, dir) =>
      bpeEncodeWith(s, dir,
        s.read.schema(bpeVocabSchema).parquet(s"${bpeModelFor(s, dir)}/vocab"))),

    // ---- T51: BPE model REFRESH from the mergeable count store —
    // t43's refresh contract applied to the tokenizer: the landed
    // pre-delta word counts ([[bpeCountsFor]]) absorb the delta
    // batch's OWN aggregate (counts are additive — history is never
    // re-tokenized), and the same three-round trainer runs over the
    // merged counts. The oracle is t27's full-corpus retrain replay,
    // so the hash gate proves refresh-from-store ≡ full retrain —
    // merge trace, counts, and final symbol stats. O(delta + store)
    // per refresh at any corpus size; the merged counts are the next
    // model version's store (the lambda fold). ----
    "t51_bpe_refresh" -> ((s, dir) => {
      import s.implicits._
      val store = s.read.schema(bpeCountSchema).parquet(bpeCountsFor(s, dir))
      val merged = store.unionByName(bpeWords(s, dir, bpeIsDelta))
        .groupBy("w").agg(sum("freq").cast("long").as("freq"))
      val (vocab, merges) = bpeTrain(dir, merged)
      val corpus = vocab
        .agg((sum(col("freq") * size(col("sym")))).cast("long").as("corpus_symbols"))
      val vs = vocab.select(explode(col("sym")).as("sy"))
        .agg(countDistinct("sy").cast("long").as("vocab_symbols"))
      merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .crossJoin(broadcast(vs)).crossJoin(broadcast(corpus))
        .select(col("merge_rank"), col("lhs"), col("rhs"), col("pair_count"),
          col("vocab_symbols"), col("corpus_symbols"))
        .orderBy("merge_rank")
    }),

    // ---- T56: BPE model FORGET from the count store — the
    // right-to-be-forgotten leg the model stores lacked (every INDEX
    // family already had one): e17's signed Z-set merge on the word
    // counts. The full-corpus store (pre-delta landing + the delta
    // batch's own aggregate — t51's lambda fold, i.e. the store
    // version after the refresh) absorbs the DELETED docs' own
    // aggregate with NEGATIVE sign, zero-count rows drop (a word that
    // lived only in deleted docs vanishes — no resurrection), and the
    // same three-round trainer runs over the result. The erasure
    // request is the e24/e25/e32 carve, so every forget leg in the
    // repo answers the same deletion. Oracle is the full retrain
    // replay over corpus ∖ deleted: forget-from-store ≡ retrain on
    // the kept set, O(deleted + store) — history is never
    // re-tokenized. ----
    "t56_bpe_forget" -> ((s, dir) => {
      import s.implicits._
      val (vocab, merges) = bpeTrain(dir, bpeForgottenCounts(s, dir))
      val corpus = vocab
        .agg((sum(col("freq") * size(col("sym")))).cast("long").as("corpus_symbols"))
      val vs = vocab.select(explode(col("sym")).as("sy"))
        .agg(countDistinct("sy").cast("long").as("vocab_symbols"))
      merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .crossJoin(broadcast(vs)).crossJoin(broadcast(corpus))
        .select(col("merge_rank"), col("lhs"), col("rhs"), col("pair_count"),
          col("vocab_symbols"), col("corpus_symbols"))
        .orderBy("merge_rank")
    }),

    // ---- T52: per-document tokenization from the LANDED model — the
    // tokenizer's per-arrival serving shape (the charge an ingest gate
    // levies against a token budget per page): the word stream LEFT-
    // joined (CapGate: broadcast under the vocabulary cap, shuffle
    // past it) against the landed vocab (t50's artifact),
    // out-of-vocabulary words falling back to character-level symbols
    // (length(w) — the word-level apply table's honest fallback, the
    // branch the streaming spec's planted OOV arrival pins; corpus
    // words are all in-vocab by construction, so the gate exercises
    // the in-vocab path), rolled up per document — wordless pages
    // still report zeros (the left join from the doc spine). The
    // streaming twin ([[graft.streaming.EventStream.encodeArrivals]])
    // runs the SAME formula over an arrival stream; StreamingSpec
    // proves stream ≡ this batch row-for-row. ----
    "t52_bpe_doc_tokens" -> ((s, dir) => {
      val vocab = s.read.schema(bpeVocabSchema)
        .parquet(s"${bpeModelFor(s, dir)}/vocab")
      val agg = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        // landed vocab through CapGate (parquet count is metadata-only):
        // broadcast under the cap, shuffle LEFT equi-join past it
        .join(graft.operators.CapGate.gate(vocab).frame, Seq("w"), "left")
        .groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_words"),
          count(when(col("n_tok").isNull, 1)).cast("long").as("n_oov"),
          sum(coalesce(col("n_tok"), length(col("w")).cast("long")))
            .cast("long").as("n_tokens"))
      Tables.documents(s, dir).filter(col("text").isNotNull).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // ---- T28: count-min heavy hitters — frequency estimation from
    // FIXED-SIZE state: a 4×1024 integer sketch (4 hash rows over the
    // t5 polynomial, different odd multipliers) absorbs the whole
    // token stream via one (row, cell)-keyed aggregate — 4096 cells
    // regardless of corpus size, every partition map-side-combining
    // into at most 4096 keys, where an exact count shuffles the full
    // token vocabulary. Estimates (min over rows) are then probed for
    // the exact top-10 tokens and reported against their true counts —
    // the one-sided overcount IS the sketch's error contract. All
    // integer, so the DuckDB twin replays sketch and probe exactly. ----
    "t28_heavy_hitters" -> ((s, dir) => {
      val polyU = udf((w: String) => graft.functions.Hashing.rollingHash8(w)._1)
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .withColumn("poly", polyU(col("w")))
      val cells = toks
        .select(col("poly"), explode(expr("sequence(0, 3)")).as("r"))
        .withColumn("cell", expr("(poly * (2 * r + 3) + r) % 1000000007 % 1024"))
      val sketch = cells.groupBy("r", "cell").agg(count(lit(1)).as("cnt"))
      val top = toks.groupBy("w").agg(count(lit(1)).as("exact_count"),
          first("poly").as("poly"))
        .orderBy(col("exact_count").desc, col("w").asc).limit(10)
      top
        .select(col("w"), col("exact_count"), col("poly"),
          explode(expr("sequence(0, 3)")).as("r"))
        .withColumn("cell", expr("(poly * (2 * r + 3) + r) % 1000000007 % 1024"))
        .join(broadcast(sketch), Seq("r", "cell"))
        .groupBy("w").agg(first("exact_count").as("ec"), min("cnt").as("est"))
        .select(col("w"), col("ec").cast("long").as("exact_count"),
          col("est").cast("long").as("est_count"),
          (col("est") - col("ec")).cast("long").as("overcount"))
        .orderBy(col("exact_count").desc, col("w").asc)
    }),

    // ---- T29: linear-counting distinct estimation — cardinality from
    // fixed-size state, the sketch complement of t28: tokens hash into
    // 4096 buckets, the only distributed state is WHICH buckets are
    // occupied (≤ 4096 keys, map-side combining — an exact distinct
    // shuffles the whole vocabulary), and the estimate is the
    // occupancy inversion n̂ = −m·ln(1 − m_occ/m). Per-source rows
    // compare the estimate against the exact distinct and report
    // relative error in basis points. The ln() is the one double in
    // the suite's sketch family — rounded to 4 decimals, far above
    // last-ulp libm divergence, so the gate stays exact. ----
    "t29_distinct_estimate" -> ((s, dir) => {
      val polyU = udf((w: String) => graft.functions.Hashing.rollingHash8(w)._1)
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .withColumn("bucket", polyU(col("w")) % 4096)
      val occ = toks.select(col("source"), col("bucket")).distinct()
        .groupBy("source").agg(count(lit(1)).as("m_occ"))
      val exact = toks.select(col("source"), col("w")).distinct()
        .groupBy("source").agg(count(lit(1)).as("n_exact"))
      occ.join(exact, Seq("source"))
        .select(col("source"), col("m_occ").cast("long").as("m_occ"),
          col("n_exact").cast("long").as("n_exact"),
          round(-lit(4096.0) * log(lit(1.0) - col("m_occ") / 4096.0), 4).as("n_est"))
        // floor() explicitly: CAST(double AS BIGINT) truncates in Spark
        // but rounds in DuckDB — the e12 lesson
        .withColumn("err_bp",
          expr("CAST(abs(CAST(floor(n_est) AS BIGINT) - n_exact) * 10000 div n_exact AS BIGINT)"))
        .orderBy("source")
    }),

    // ---- T30: HyperLogLog-style cardinality — the third leg of the
    // fixed-state sketch family (t28 frequency, t29 occupancy, t30
    // register ranks): each token's hash splits into a 256-way register
    // index and value bits whose trailing-zero rank feeds a per-register
    // max — ≤256 keys per source, map-side combining, where exact
    // distinct shuffles the vocabulary. The harmonic-mean inversion
    // αm²/Σ2^(−M_j) runs entirely on powers of two (1.0/(1<<M) is IEEE-
    // exact, the Σ has exponent range < 53 so every partial sum is exact
    // in ANY order — no float-summation-order divergence), with the
    // standard linear-counting fallback below 2.5m when empty registers
    // remain. α·m² is one pre-folded double literal so both engines do a
    // single identical division; the ln() fallback rounds at 4 decimals
    // like t29. Gated beside the exact distinct with error in basis
    // points. ----
    "t30_hll_cardinality" -> ((s, dir) => {
      val polyU = udf((w: String) => graft.functions.Hashing.rollingHash8(w)._1)
      val amm = "47072.71267120224D" // 0.7213/(1 + 1.079/256) * 256², pre-folded
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .withColumn("h", polyU(col("w")))
      val regs = toks
        .select(col("source"), (col("h") % 256).as("j"), expr("h div 256").as("wv"))
        .withColumn("rho",
          expr("CASE WHEN wv = 0 THEN 23 ELSE bit_count((wv & -wv) - 1) + 1 END"))
        .groupBy("source", "j").agg(max("rho").as("mj"))
      val bySrc = regs.groupBy("source").agg(
          count(lit(1)).as("n_regs"),
          sum(expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), mj)")).as("sum_hit"))
        .withColumn("v_zero", (lit(256L) - col("n_regs")).cast("long"))
        .withColumn("raw_est", expr(s"$amm / (sum_hit + CAST(v_zero AS DOUBLE))"))
        .withColumn("est", expr(
          "CASE WHEN raw_est <= 640.0D AND v_zero > 0" +
          " THEN round(256.0D * ln(CAST(256 AS DOUBLE) / v_zero), 4)" +
          " ELSE round(raw_est, 4) END"))
      val exact = toks.select(col("source"), col("w")).distinct()
        .groupBy("source").agg(count(lit(1)).as("n_exact"))
      bySrc.join(exact, Seq("source"))
        .select(col("source"), col("n_exact").cast("long").as("n_exact"),
          col("v_zero"), round(col("raw_est"), 4).as("raw_est"), col("est"))
        // floor() explicitly: CAST(double AS BIGINT) truncates in Spark
        // but rounds in DuckDB — the e12 lesson
        .withColumn("err_bp",
          expr("CAST(abs(CAST(floor(est) AS BIGINT) - n_exact) * 10000 div n_exact AS BIGINT)"))
        .orderBy("source")
    }),

    // ---- T31: fixed-bin histogram quantiles — the sketch complement
    // of t9's exact quantiles, fourth leg of the fixed-state family:
    // document lengths fold into ≤4096 width-16 bins per source (map-
    // side combining; exact quantiles shuffle and sort every row), the
    // cumulative walk runs over the ≤4096-row histogram, and each
    // quantile reports its bin's upper edge against the exact rank-k
    // value, error in basis points. Rank thresholds are ceil(q·n) in
    // pure integer arithmetic ((n·p + 99) div 100), so the whole gate
    // is integer-exact — no doubles anywhere. ----
    "t31_histogram_quantiles" -> ((s, dir) => {
      val w = 16
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("v"), col("doc_id"))
      val cum = docs
        .withColumn("bin", least(expr(s"v div $w"), lit(4095L)))
        .groupBy("source", "bin").agg(count(lit(1)).as("c"))
        .withColumn("cum",
          sum("c").over(Window.partitionBy("source").orderBy("bin")))
      val th = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(s.createDataFrame(
          Seq(Tuple1(50), Tuple1(90), Tuple1(99))).toDF("p")))
        .withColumn("k", expr("(n * p + 99) div 100"))
      val est = th.join(cum, Seq("source"))
        .filter(col("cum") >= col("k"))
        .groupBy("source", "p", "n").agg(min("bin").as("bin"))
        .withColumn("est_hi", (col("bin") + 1) * w - 1)
      val exact = th.join(
          docs.withColumn("r", row_number().over(
            Window.partitionBy("source").orderBy("v", "doc_id"))),
          Seq("source"))
        .filter(col("r") === col("k"))
        .select(col("source"), col("p"), col("v").as("exact_v"))
      est.join(exact, Seq("source", "p"))
        .select(col("source"), col("p"), col("n"), col("exact_v"),
          col("est_hi"),
          expr("CAST(abs(est_hi - exact_v) * 10000 div exact_v AS BIGINT)").as("err_bp"))
        .orderBy("source", "p")
    }),

    // ---- T32: windowed PMI co-occurrence — the corpus-statistics pass
    // behind embedding pretraining and collocation mining: count
    // unordered word pairs within a ±2 skip-gram window, then score
    // each against independence. Pair generation is MAP-SIDE ONLY
    // (zip_with over offset slices, t14's trick at both offsets) — no
    // positional self-join — so the only shuffles are vocabulary-keyed
    // groupBys that partial-aggregate first; the unigram table joins
    // back broadcast-sized. Exactness: numerator and denominator are
    // each one exact BIGINT product, so the single double division is
    // correctly rounded and ln(·) rounds at 4 decimals, far above
    // last-ulp divergence (the t29 contract). ----
    "t32_pmi_cooccur" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          "concat(" +
            "zip_with(slice(w, 1, greatest(size(w) - 1, 0)), " +
            " slice(w, 2, greatest(size(w) - 1, 0)), (a, b) -> struct(a AS x, b AS y)), " +
            "zip_with(slice(w, 1, greatest(size(w) - 2, 0)), " +
            " slice(w, 3, greatest(size(w) - 2, 0)), (a, b) -> struct(a AS x, b AS y)))")).as("p"))
        .filter(col("p.x") =!= "" && col("p.y") =!= "")
        .select(least(col("p.x"), col("p.y")).as("w1"),
          greatest(col("p.x"), col("p.y")).as("w2"))
      val cp = pairs.groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("n_pair"))
      val tok = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      val cw = tok.groupBy("word").agg(count(lit(1)).cast("long").as("c"))
      val tots = tok.agg(count(lit(1)).cast("long").as("ntok"))
        .crossJoin(cp.agg(sum(col("n_pair")).as("np")))
      cp.join(cw.select(col("word").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(cw.select(col("word").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tots))
        .filter(col("n_pair") >= 5)
        .select(col("w1"), col("w2"), col("n_pair"), col("c1"), col("c2"),
          round(log(
            (col("n_pair") * col("ntok") * col("ntok")).cast("double") /
              (col("np") * col("c1") * col("c2")).cast("double")), 4).as("pmi"))
        .orderBy("w1", "w2")
    }),

    // ---- T33: temperature-weighted mixture allocation — the
    // multilingual/multi-source sampling-rate computation (p_i ∝ n_i^α,
    // α = 0.5): how many of a 100k-sample budget each source gets so
    // small sources are up-weighted without letting any source dominate.
    // Seats are apportioned by largest remainder (Hamilton) entirely in
    // BIGINT arithmetic: weights are floor(√n·10⁶) micro-units (sqrt is
    // IEEE-correctly-rounded on both engines, so the floor is
    // bit-identical), quotas are integer div/mod against the exact
    // integer weight total, and the ≤ sources−1 leftover seats go to
    // the largest integer remainders (ties to source name). Invariant:
    // Σalloc = 100000 exactly. The ranking window runs over the
    // per-source aggregate (≤ |sources| rows), never the corpus. ----
    "t33_temperature_mix" -> ((s, dir) =>
      hamiltonAllocate(
        Tables.documents(s, dir)
          .groupBy("source").agg(count(lit(1)).cast("long").as("n")),
        "source", 100000L)),

    // ---- T35: Zipf rank-frequency slope — the corpus-health
    // diagnostic behind "does this source look like natural language":
    // OLS fit of ln(freq) against ln(rank) over each source's top-100
    // words (natural text sits near slope −1; a templated or
    // synthetic source flattens). The top-100 table is vocabulary-
    // sized; the ONLY corpus-scale work is the token count. The OLS
    // moments fold SEQUENTIALLY over the rank-sorted point list
    // (Spark `aggregate` ≡ DuckDB list_reduce element-for-element, the
    // t27 discipline), so the double accumulation order is pinned on
    // both engines and the 4-decimal rounding sits far above ln()'s
    // last-ulp wiggle (the t29 contract). ----
    "t35_zipf_slope" -> ((s, dir) => {
      val top = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("source", "w").agg(count(lit(1)).cast("long").as("freq"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("source").orderBy(col("freq").desc, col("w").asc)).cast("long"))
        .filter(col("rank") <= 100)
      val slopeExpr = "(n * acc[2] - acc[0] * acc[1]) / (n * acc[3] - acc[0] * acc[0])"
      top.groupBy("source")
        .agg(sort_array(collect_list(struct(col("rank"), col("freq")))).as("pts"))
        .withColumn("acc", expr(
          "aggregate(pts, array(0D, 0D, 0D, 0D), (a, p) -> array(" +
            "a[0] + ln(CAST(p.rank AS DOUBLE)), " +
            "a[1] + ln(CAST(p.freq AS DOUBLE)), " +
            "a[2] + ln(CAST(p.rank AS DOUBLE)) * ln(CAST(p.freq AS DOUBLE)), " +
            "a[3] + ln(CAST(p.rank AS DOUBLE)) * ln(CAST(p.rank AS DOUBLE))))"))
        .withColumn("n", size(col("pts")).cast("long"))
        .select(col("source"), col("n"),
          round(expr(slopeExpr), 4).as("slope"),
          round(expr(s"(acc[1] - ($slopeExpr) * acc[0]) / n"), 4).as("intercept"))
        .orderBy("source")
    }),

    // ---- T26: adaptive per-source quality cutoffs — "drop the worst
    // 10% of every source" where the threshold is LEARNED per stratum
    // (a fixed global cutoff over-prunes clean sources and under-
    // prunes noisy ones). Requires each doc's quality rank within its
    // source — the same skew-proof grouped rank as t24
    // ([[GlobalOrder.withPositionWithin]], here with a DESCENDING
    // quality key), then one aggregate emits kept/dropped counts and
    // the induced per-source threshold a production filter would pin.
    // Quality proxy: n_chars (the real pipeline plugs t2/t7 scores in
    // the same slot). ----
    "t26_quality_cutoff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = graft.operators.GlobalOrder.withPositionWithin(
        docs, "pos", Seq("source"),
        col("n_chars").desc_nulls_last, col("doc_id").asc_nulls_last)
      val totals = docs.groupBy("source").agg(count(lit(1)).as("n"))
      // <=> attach: a USING join drops the null-source stratum the
      // grouped rank just kept (same carve as GlobalOrder's fix)
      ranked.join(broadcast(totals.withColumnRenamed("source", "_src")),
          col("_src") <=> col("source")).drop("_src")
        .withColumn("kept", col("pos") <= expr("n * 9 div 10"))
        .groupBy("source")
        .agg(count(when(col("kept"), 1)).cast("long").as("n_kept"),
          count(when(!col("kept"), 1)).cast("long").as("n_dropped"),
          min(when(col("kept"), col("n_chars"))).cast("long").as("cutoff_chars"))
        .orderBy("source")
    }),

    // ---- T46: DSIR-shaped importance selection (Xie et al.'s Data
    // Selection via Importance Resampling, the hashed-feature form):
    // rank raw documents by how target-like their hashed-unigram
    // distribution is. Features are md5-bucketed words (B = 4096 — the
    // fixed-state discipline of t28/t30: bucket stats never grow with
    // the corpus); the target distribution is the lang='en' slice (the
    // trusted-corpus slot — production plugs Wikipedia there); each
    // bucket's importance is the Laplace-smoothed LIKELIHOOD RATIO
    // p_t(b)/p_r(b) in BIGINT fixed point (ln() isn't correctly-
    // rounded cross-engine — the t39 discipline; the ratio, unlike a
    // frequency DIFFERENCE, is what separates target-like from merely
    // frequent: a word equally common in both distributions scores
    // ~1·S regardless of how common it is); a doc's weight is the
    // per-token MEAN ratio (Σ n·L div Σ n — length-invariant, the
    // arithmetic-mean surrogate of DSIR's geometric log-mean), and
    // each source keeps its top quarter by weight (skew-proof grouped
    // rank, t26's operator). ONE token-scan: per-doc bucket counts
    // are the finest statistic, and both global distributions
    // aggregate from THEM, never re-reading text. The 4096-row score
    // table broadcasts. ----
    "t46_dsir_select" -> ((s, dir) => {
      val B = 4096L; val S = 1000000L
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val ww = docs.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("wd"))
        .filter(length(col("wd")) > 0)
        .select(col("doc_id"), col("lang"),
          conv(substring(md5(col("wd").cast("binary")), 1, 3), 16, 10)
            .cast("long").as("b"))
      val db = Caches.trackCached(dir,
        ww.groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("n")))
      val raw = db.groupBy("b").agg(sum("n").as("cr"))
      val tgt = db.filter(col("lang") === "en").groupBy("b").agg(sum("n").as("ct"))
      val totals = db.agg(sum("n").as("tr"),
        coalesce(sum(when(col("lang") === "en", col("n"))), lit(0L)).as("tt"))
      // the ratio numerator S·(ct+1)·(tr+B) crosses 2⁶³ once bucket
      // counts × corpus tokens reach ~9·10¹² — far below 100 TB — and
      // Spark would WRAP silently where DuckDB raises; DECIMAL(38,0)
      // keeps the integer arithmetic exact to 10³⁸ (token ceiling
      // ~3·10¹⁵ per the S·T² bound), and `div` still lands on BIGINT
      val sc = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(totals))
        .select(col("b"), expr(
          s"CAST($S AS DECIMAL(38,0)) * (coalesce(ct, 0) + 1) * (tr + $B)" +
            s" div ((CAST(cr AS DECIMAL(38,0)) + 1) * (tt + $B))")
          .as("l"))
      // checkpoint: the weighted frame feeds the grouped rank's dual
      // evaluation (local ranks + shard counts) plus the per-source
      // totals — three consumers that would each re-run the score
      // join + aggregation chain over the cached bucket counts
      val wt = Caches.checkpointed(dir, db.join(broadcast(sc), Seq("b"))
        .groupBy("doc_id")
        .agg(expr("sum(CAST(n AS DECIMAL(38,0)) * l) div sum(n)").as("weight")))
      val base = docs.select("doc_id", "source").join(wt, Seq("doc_id"))
      val ranked = graft.operators.GlobalOrder.withPositionWithin(
        base, "r", Seq("source"),
        col("weight").desc_nulls_last, col("doc_id").asc_nulls_last)
      val ns = base.groupBy("source").agg(count(lit(1)).as("ns"))
      ranked.join(broadcast(ns.withColumnRenamed("source", "_src")),
          col("_src") <=> col("source")).drop("_src") // see t26's note
        .select(col("doc_id"), col("source"), col("weight"),
          (col("r") <= expr("(ns + 3) div 4")).as("selected"))
        .orderBy("doc_id")
    }),

    "t24_stratified_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("hkey", (col("doc_id") * 2654435761L) % 1000000007L)
      val ranked = graft.operators.GlobalOrder
        .withPositionWithin(docs, "pos", Seq("source"),
          col("hkey").asc_nulls_last, col("doc_id").asc_nulls_last)
      val totals = docs.groupBy("source").agg(count(lit(1)).as("n"))
      ranked.join(broadcast(totals.withColumnRenamed("source", "_src")),
          col("_src") <=> col("source")).drop("_src") // see t26's note
        .withColumn("split",
          when(col("pos") <= expr("n * 8 div 10"), "train")
            .when(col("pos") <= expr("n * 9 div 10"), "val")
            .otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
        .orderBy("source", "split")
    }))

  lazy val oracleExtra: Map[String, String] = Map(
    // e14's twin recomputes from the FULL table in one pass — hash
    // equality proves the engine's partial-merge path exact.
    "e14_incremental_agg" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   // CAST(count(*) AS BIGINT) AS avg_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // e18's twin replays the day semi-join relationally — DuckDB has no
    // partition concept, so equality proves the runtime-pruned scan
    // read exactly the qualifying days' rows and nothing else.
    "e18_dpp_join" ->
      """WITH d AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day
        |   FROM events WHERE event_type = 'purchase' AND "value" >= 300.0),
        | f AS (SELECT event_type, "value",
        |    epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM f JOIN d USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // s25's twin recomputes the expected post-backfill table
    // relationally — equality proves the dynamic overwrite replaced
    // exactly the delta's partitions and nothing else.
    "s25_backfill_overwrite" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN (epoch_us(ts) // 86400000000) % 7 = 3
        |      THEN "value" * 2 ELSE "value" END AS v
        |  FROM events)
        |SELECT day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  day % 7 = 3 AS replaced
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // e17's twin applies corrections/deletes to the table directly and
    // aggregates FROM SCRATCH — hash equality proves the signed-delta
    // merge path exact.
    "e17_retraction_merge" ->
      """WITH c AS (SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 50 = 7
        |      THEN CAST(CAST(round(o_totalprice * 100) AS BIGINT) * 110 // 100 AS BIGINT)
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
        |  FROM orders WHERE o_orderkey % 97 <> 3)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // s22's twin rebuilds the SCD2 dimension from the FULL change feed
    // in one window pass — no cutoff, no merge — so hash equality
    // proves the engine's incremental close-and-append path exact.
    "s22_scd2_merge" ->
      s"""WITH raw AS (SELECT o_custkey AS custkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day,
        |    o_orderkey, o_orderpriority AS priority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        | feed AS (SELECT custkey, day, priority, cents FROM (
        |    SELECT *, row_number() OVER (PARTITION BY custkey, day
        |      ORDER BY o_orderkey DESC) AS rn FROM raw) WHERE rn = 1),
        | v AS (SELECT custkey,
        |    CAST(row_number() OVER (PARTITION BY custkey ORDER BY day)
        |      AS BIGINT) AS ver,
        |    day AS valid_from,
        |    lead(day) OVER (PARTITION BY custkey ORDER BY day) AS valid_to,
        |    priority, cents FROM feed)
        |SELECT custkey, ver, valid_from, valid_to, priority, cents,
        |  (valid_to IS NULL) AS is_current
        |FROM v ORDER BY custkey, ver""".stripMargin,

    // e16's twin is the TEXTBOOK point-in-time form — DuckDB's native
    // ASOF LEFT JOIN on (key, shipday >= valid_from) — against the
    // full-rebuild dimension, so the gate proves the engine's
    // union-sort-carry as-of formulation implements the interval
    // containment semantics.
    "e16_pit_join" ->
      s"""WITH raw AS (SELECT o_custkey AS custkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day,
        |    o_orderkey, o_orderpriority AS priority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        | feed AS (SELECT custkey, day, priority FROM (
        |    SELECT *, row_number() OVER (PARTITION BY custkey, day
        |      ORDER BY o_orderkey DESC) AS rn FROM raw) WHERE rn = 1),
        | v AS (SELECT custkey,
        |    CAST(row_number() OVER (PARTITION BY custkey ORDER BY day)
        |      AS BIGINT) AS ver,
        |    day AS valid_from, priority FROM feed),
        | f AS (SELECT o_custkey AS custkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      AS BIGINT) AS shipday
        |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | pit AS (SELECT f.shipday, v.ver, v.priority
        |   FROM f ASOF LEFT JOIN v
        |     ON f.custkey = v.custkey AND f.shipday >= v.valid_from)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(shipday) AS BIGINT) AS sum_day,
        |  CAST(sum(ver) AS BIGINT) AS sum_ver
        |FROM pit GROUP BY 1 ORDER BY 1""".stripMargin,

    // t38's twin derives snapshot B with the same arithmetic and diffs
    // with IS DISTINCT FROM — the relational textbook form.
    "t38_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, text, 1 AS in_a FROM documents),
        | b AS (SELECT doc_id,
        |     CASE WHEN doc_id % 11 = 5 THEN text || ' [rev2]' ELSE text END AS text,
        |     1 AS in_b
        |   FROM documents WHERE doc_id % 13 <> 8
        |   UNION ALL
        |   SELECT doc_id + 10000000, text, 1 FROM documents WHERE doc_id % 17 = 2),
        | j AS (SELECT a.text AS ta, b.text AS tb, in_a, in_b
        |   FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
        | st AS (SELECT CASE WHEN in_a IS NULL THEN 'added'
        |     WHEN in_b IS NULL THEN 'removed'
        |     WHEN ta IS DISTINCT FROM tb THEN 'changed'
        |     ELSE 'unchanged' END AS status, tb FROM j)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(len(tb)) AS BIGINT) AS chars_new
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,

    // s24's twin evaluates each rule as direct per-rule SQL — the
    // readable form — so the gate proves the engine's folded
    // one-pass-per-table aggregation computes the same audit.
    "s24_constraint_audit" ->
      """WITH o AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_nn,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uq,
        |    CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_rng,
        |    CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_acc
        |  FROM orders),
        | fk1 AS (SELECT CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
        |   FROM orders od LEFT JOIN customer c ON od.o_custkey = c.c_custkey
        |   WHERE od.o_custkey IS NOT NULL),
        | fk2 AS (SELECT CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(coalesce(sum(CASE WHEN od.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
        |   FROM lineitem l LEFT JOIN orders od ON l.l_orderkey = od.o_orderkey
        |   WHERE l.l_orderkey IS NOT NULL)
        |SELECT * FROM (
        |  SELECT 'orders.o_custkey NOT NULL' AS rule, n AS n_checked, v_nn AS n_violations FROM o
        |  UNION ALL SELECT 'orders.o_orderkey UNIQUE', n, v_uq FROM o
        |  UNION ALL SELECT 'orders.o_totalprice > 0', n, v_rng FROM o
        |  UNION ALL SELECT 'orders.o_orderstatus IN (O,F,P)', n, v_acc FROM o
        |  UNION ALL SELECT 'orders.o_custkey REFERENCES customer', n_checked, n_violations FROM fk1
        |  UNION ALL SELECT 'lineitem.l_orderkey REFERENCES orders', n_checked, n_violations FROM fk2)
        |ORDER BY 1""".stripMargin,

    // t37's twin is the sequential-window textbook form of the grouped
    // prefix sum — hash equality proves the sharded formulation exact.
    "t37_budget_curation" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    n_chars AS q FROM documents),
        | b AS (SELECT source, CAST(sum(toks) * 4 // 10 AS BIGINT) AS budget
        |   FROM d GROUP BY 1),
        | c AS (SELECT *, CAST(COALESCE(sum(toks) OVER (PARTITION BY source
        |      ORDER BY q DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum FROM d)
        |SELECT source, CAST(max(budget) AS BIGINT) AS budget,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(toks) AS BIGINT) AS kept_tokens,
        |  min(q) AS min_quality
        |FROM c JOIN b USING (source) WHERE cum < budget
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // s19's twin replays the bit interleave as list_sum over the same
    // 16 disjoint-bit terms — BIGINT throughout, so the gate is exact.
    "s19_zorder_cluster" ->
      """WITH b AS (SELECT l_partkey & 65535 AS x, l_suppkey & 65535 AS y
        |           FROM lineitem),
        | z AS (SELECT x, y, CAST(list_sum(list_transform(range(0, 16),
        |     i -> (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1))))
        |   AS BIGINT) AS z FROM b)
        |SELECT z // 65536 AS zbucket, CAST(count(*) AS BIGINT) AS n,
        |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    // s18's twin runs the SAME join on the original parquet tables —
    // the bucketed layout must be a pure plan optimization.
    "s18_bucketed_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t21_sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS first_pack,
        |  (start_offset + n_tokens - 1) // 512 AS last_pack,
        |  (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1 AS n_packs
        |FROM c ORDER BY doc_id""".stripMargin,

    "t22_mixture_resample" -> {
      val caseSql = mixtureWeights
        .map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, source,
         |    CASE source $caseSql ELSE 1.0 END AS w FROM documents)
         |SELECT doc_id, source, CAST(w AS DOUBLE) AS weight,
         |  CAST(floor(w) + CASE WHEN (((doc_id % 1000000007) + 1000000007)
         |      % 1000000007 * 2654435761) % 1000000007 % 1000 <
         |    (w - floor(w)) * 1000 THEN 1 ELSE 0 END AS BIGINT) AS multiplicity
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "t23_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 2 GROUP BY w),
        |pairs AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
        |  FROM words, unnest(range(1, len(w))) AS t(i))
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin,

    "t25_chunk_overlap" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 256 THEN 1
        |         ELSE 1 + (n_tokens - 256 + 191) // 192 END AS n_chunks FROM t)
        |SELECT doc_id, n_tokens, CAST(ch.chunk_id AS BIGINT) AS chunk_id,
        |  CAST(ch.chunk_id * 192 AS BIGINT) AS start_tok,
        |  CAST(least(ch.chunk_id * 192 + 256, n_tokens) AS BIGINT) AS end_tok
        |FROM c, unnest(range(0, n_chunks)) AS ch(chunk_id)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "t27_bpe_merges" -> bpeMergesOracleSql,

    // t51: the refresh-from-count-store must equal the FULL retrain —
    // the oracle is t27's from-scratch replay over the whole corpus,
    // so the gate proves merged-counts training ≡ full training.
    "t51_bpe_refresh" -> bpeMergesOracleSql,

    // t34's twin replays the same three training rounds, then encodes
    // by joining the token stream against the final vocab's symbol
    // counts — exactly the engine's broadcast-join shape.
    "t34_bpe_encode" -> bpeEncodeOracleSql,

    // t50: the landed-model encode must equal the memoized-model t34
    // AND the from-scratch twin — same oracle, strongest form.
    "t50_bpe_landed_encode" -> bpeEncodeOracleSql,
    "t52_bpe_doc_tokens" -> bpeDocTokensOracleSql,
    // forget ≡ full retrain on corpus ∖ deleted (the e24 erasure carve)
    "t56_bpe_forget" ->
      bpeMergesOracleSqlFor(TextQueries.e24DeletedKeptPredSql),

    "t28_heavy_hitters" ->
      """WITH toks AS (SELECT w,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(w) + 1),
        |        i -> CAST(ascii(w[CAST(i AS INT)]) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS poly
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1),
        | cells AS (SELECT poly, r,
        |    (poly * (2 * r + 3) + r) % 1000000007 % 1024 AS cell
        |  FROM toks, unnest(range(0, 4)) AS t(r)),
        | sketch AS (SELECT r, cell, CAST(count(*) AS BIGINT) AS cnt
        |   FROM cells GROUP BY r, cell),
        | top AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_count,
        |     min(poly) AS poly
        |   FROM toks GROUP BY w ORDER BY exact_count DESC, w LIMIT 10),
        | probe AS (SELECT t.w, t.exact_count, sk.cnt
        |   FROM top t, unnest(range(0, 4)) AS u(r)
        |   JOIN sketch sk ON sk.r = u.r
        |    AND sk.cell = (t.poly * (2 * u.r + 3) + u.r) % 1000000007 % 1024)
        |SELECT w, exact_count, CAST(min(cnt) AS BIGINT) AS est_count,
        |  CAST(min(cnt) - exact_count AS BIGINT) AS overcount
        |FROM probe GROUP BY w, exact_count
        |ORDER BY exact_count DESC, w""".stripMargin,

    "t29_distinct_estimate" ->
      """WITH toks AS (SELECT source, w,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(w) + 1),
        |        i -> CAST(ascii(w[CAST(i AS INT)]) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 4096 AS bucket
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1),
        | occ AS (SELECT source, CAST(count(*) AS BIGINT) AS m_occ FROM
        |   (SELECT DISTINCT source, bucket FROM toks) GROUP BY source),
        | ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM
        |   (SELECT DISTINCT source, w FROM toks) GROUP BY source),
        | j AS (SELECT o.source, o.m_occ, e.n_exact,
        |     round(-4096.0 * ln(1.0 - o.m_occ / 4096.0), 4) AS n_est
        |   FROM occ o JOIN ex e USING (source))
        |SELECT source, m_occ, n_exact, n_est,
        |  CAST(abs(CAST(floor(n_est) AS BIGINT) - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
        |FROM j ORDER BY source""".stripMargin,

    "t30_hll_cardinality" ->
      """WITH toks AS (SELECT source, w,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(w) + 1),
        |        i -> CAST(ascii(w[CAST(i AS INT)]) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS h
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1),
        | regs AS (SELECT source, h % 256 AS j,
        |     max(CASE WHEN (h // 256) = 0 THEN 23
        |       ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1 END) AS mj
        |   FROM toks GROUP BY source, j),
        | agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_regs,
        |     sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << CAST(mj AS INT))) AS sum_hit
        |   FROM regs GROUP BY source),
        | est AS (SELECT source, CAST(256 - n_regs AS BIGINT) AS v_zero,
        |     CAST('47072.71267120224' AS DOUBLE)
        |       / (sum_hit + CAST(256 - n_regs AS DOUBLE)) AS raw_est
        |   FROM agg),
        | fin AS (SELECT source, v_zero, raw_est,
        |     CASE WHEN raw_est <= 640.0 AND v_zero > 0
        |       THEN round(256.0 * ln(CAST(256 AS DOUBLE) / v_zero), 4)
        |       ELSE round(raw_est, 4) END AS est
        |   FROM est),
        | ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM
        |   (SELECT DISTINCT source, w FROM toks) GROUP BY source)
        |SELECT f.source, e.n_exact, f.v_zero,
        |  round(f.raw_est, 4) AS raw_est, f.est,
        |  CAST(abs(CAST(floor(f.est) AS BIGINT) - e.n_exact) * 10000 // e.n_exact AS BIGINT) AS err_bp
        |FROM fin f JOIN ex e USING (source)
        |ORDER BY source""".stripMargin,

    "t31_histogram_quantiles" ->
      """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v, doc_id
        |    FROM documents),
        | cum AS (SELECT source, bin, c,
        |     sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum
        |   FROM (SELECT source, LEAST(v // 16, 4095) AS bin,
        |       CAST(count(*) AS BIGINT) AS c
        |     FROM d GROUP BY 1, 2)),
        | th AS (SELECT source, n, p, (n * p + 99) // 100 AS k
        |   FROM (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |     (VALUES (50), (90), (99)) AS q(p)),
        | est AS (SELECT t.source, t.p, t.n, min(c.bin) AS bin
        |   FROM th t JOIN cum c ON c.source = t.source AND c.cum >= t.k
        |   GROUP BY 1, 2, 3),
        | ranked AS (SELECT source, v,
        |     row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r
        |   FROM d),
        | ex AS (SELECT t.source, t.p, rk.v AS exact_v
        |   FROM th t JOIN ranked rk ON rk.source = t.source AND rk.r = t.k)
        |SELECT e.source, e.p, e.n, x.exact_v,
        |  (e.bin + 1) * 16 - 1 AS est_hi,
        |  CAST(abs((e.bin + 1) * 16 - 1 - x.exact_v) * 10000 // x.exact_v AS BIGINT) AS err_bp
        |FROM est e JOIN ex x ON x.source = e.source AND x.p = e.p
        |ORDER BY e.source, e.p""".stripMargin,

    "t32_pmi_cooccur" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        | pr AS (
        |   SELECT unnest(list_transform(range(1, len(w)),
        |     i -> [w[i], w[i + 1]])) AS p FROM w
        |   UNION ALL
        |   SELECT unnest(list_transform(range(1, len(w) - 1),
        |     i -> [w[i], w[i + 2]])) AS p FROM w),
        | cp AS (SELECT least(p[1], p[2]) AS w1, greatest(p[1], p[2]) AS w2,
        |     CAST(count(*) AS BIGINT) AS n_pair
        |   FROM pr WHERE p[1] <> '' AND p[2] <> '' GROUP BY 1, 2),
        | tok AS (SELECT unnest(w) AS word FROM w),
        | cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok
        |   WHERE word <> '' GROUP BY 1),
        | tots AS (SELECT
        |   CAST((SELECT count(*) FROM tok WHERE word <> '') AS BIGINT) AS ntok,
        |   CAST((SELECT sum(n_pair) FROM cp) AS BIGINT) AS np)
        |SELECT w1, w2, n_pair, a.c AS c1, b.c AS c2,
        |  round(ln(CAST(n_pair * ntok * ntok AS DOUBLE) /
        |    CAST(np * a.c * b.c AS DOUBLE)), 4) AS pmi
        |FROM cp JOIN cw a ON a.word = w1 JOIN cw b ON b.word = w2, tots
        |WHERE n_pair >= 5 ORDER BY w1, w2""".stripMargin,

    "t35_zipf_slope" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | f AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq
        |   FROM tok WHERE len(w) >= 1 GROUP BY 1, 2),
        | r AS (SELECT source, w, freq, row_number() OVER
        |     (PARTITION BY source ORDER BY freq DESC, w) AS rk FROM f),
        | pts AS (SELECT source,
        |     list([ln(CAST(rk AS DOUBLE)), ln(CAST(freq AS DOUBLE))]
        |       ORDER BY rk) AS ps
        |   FROM r WHERE rk <= 100 GROUP BY source),
        | ac AS (SELECT source, CAST(len(ps) AS BIGINT) AS n,
        |     list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0], ps),
        |       (a, p) -> [a[1] + p[1], a[2] + p[2],
        |         a[3] + p[1] * p[2], a[4] + p[1] * p[1]]) AS a
        |   FROM pts)
        |SELECT source, n,
        |  round((n * a[3] - a[1] * a[2]) / (n * a[4] - a[1] * a[1]), 4) AS slope,
        |  round((a[2] - ((n * a[3] - a[1] * a[2]) / (n * a[4] - a[1] * a[1])) * a[1]) / n,
        |    4) AS intercept
        |FROM ac ORDER BY source""".stripMargin,

    // t39/t40: the full lang-ID replay — planted transform, trigram
    // profile TRAINING (top-200 per language), fixed-point scoring,
    // argmax + margin — shared by both oracles (parameterized-replay
    // convention, like trainedServeSql / d9ReachCte).
    "t39_lang_id" -> s"""$t39LangIdCte
       |SELECT doc_id, true_lang, pred_lang, score, margin, correct
       |FROM verdicts ORDER BY doc_id""".stripMargin,

    // t49: the identical replay over the COMMITTED public sample —
    // the VALUES relation is generated from PublicLangSample.rows, so
    // sample, split, profile, and scoring all derive from one object.
    "t49_public_lang_id" ->
      s"""WITH sample(sid, lang, text) AS (SELECT * FROM ${PublicLangSample.valuesSql}),
         | grams AS (SELECT sid, lang, unnest(list_transform(
         |     range(1, length(text) - 1), i -> substr(text, CAST(i AS INTEGER), 3))) AS g
         |   FROM sample),
         | prof AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS cnt
         |   FROM grams WHERE sid % 3 != 0 GROUP BY 1, 2),
         | tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM prof GROUP BY 1),
         | wts AS (SELECT p.lang AS plang, p.g,
         |     CAST(p.cnt * 1000000 // t.tot AS BIGINT) AS w
         |   FROM (SELECT lang, g, cnt, row_number() OVER (
         |       PARTITION BY lang ORDER BY cnt DESC, g ASC) AS rk FROM prof) p
         |   JOIN tot t USING (lang) WHERE p.rk <= 120),
         | test AS (SELECT * FROM grams WHERE sid % 3 = 0),
         | hits AS (SELECT sid, plang, CAST(sum(w) AS BIGINT) AS score
         |   FROM test JOIN wts USING (g) GROUP BY 1, 2),
         | dense AS (SELECT d.sid, d.lang, l.plang, COALESCE(h.score, 0) AS score
         |   FROM (SELECT DISTINCT sid, lang FROM test) d
         |   CROSS JOIN (SELECT DISTINCT plang FROM wts) l
         |   LEFT JOIN hits h ON h.sid = d.sid AND h.plang = l.plang),
         | ranked AS (SELECT *, row_number() OVER (
         |     PARTITION BY sid ORDER BY score DESC, plang ASC) AS rn FROM dense)
         |SELECT CAST(b.sid AS BIGINT) AS sid, b.lang AS true_lang,
         |  b.plang AS pred_lang, CAST(b.score AS BIGINT) AS score,
         |  CAST(b.score - COALESCE(s2.score, 0) AS BIGINT) AS margin,
         |  b.plang = b.lang AS correct
         |FROM (SELECT * FROM ranked WHERE rn = 1) b
         |LEFT JOIN (SELECT sid, score FROM ranked WHERE rn = 2) s2 USING (sid)
         |ORDER BY sid""".stripMargin,

    "t40_predlang_mix" -> s"""$t39LangIdCte,
       | s AS (SELECT pred_lang, CAST(count(*) AS BIGINT) AS n
       |   FROM verdicts GROUP BY 1),
       | w AS (SELECT pred_lang, n,
       |     CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wm FROM s),
       | t AS (SELECT CAST(sum(wm) AS BIGINT) AS w_tot FROM w),
       | q AS (SELECT pred_lang, n, wm,
       |     (100000 * wm) // w_tot AS base, (100000 * wm) % w_tot AS rem
       |   FROM w, t),
       | l AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS leftover FROM q),
       | r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, pred_lang) AS rk
       |   FROM q)
       |SELECT pred_lang, n, wm, base, rem,
       |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
       |FROM r, l ORDER BY pred_lang""".stripMargin,

    "t41_sequence_packing" -> t41PackingSql,

    // t44: per-source sequence spaces — the sequential window is
    // PARTITION BY source, proving the grouped sharded prefix sum ≡
    // the per-shard single-task semantics
    "t44_sharded_packing" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |   FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT doc_id, source, toks,
        |    CAST(COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum FROM d)
        |SELECT doc_id, source, toks, cum,
        |  cum // 512 AS seq_first, cum % 512 AS seq_off,
        |  (cum + toks - 1) // 512 AS seq_last,
        |  (cum + toks - 1) // 512 - cum // 512 AS n_crossings
        |FROM c ORDER BY doc_id""".stripMargin,

    // t43: the refreshed profile must equal the FULL retrain — wts is
    // t39's own profile CTE over the whole labeled split (the scoring
    // CTEs are unused under the FALSE predicate and cost nothing)
    "t43_profile_refresh" -> s"""${t39LangIdCteFor("FALSE")}
      | SELECT g, CAST(w AS BIGINT) AS w, plang FROM wts
      | ORDER BY plang, g""".stripMargin,

    // t42: the SAME full sequential recompute — hash equality proves
    // pack(hist) ∪ shift(pack(delta)) ≡ pack(hist ∪ delta), the
    // incremental-maintenance contract (d28/d29's oracle convention).
    "t42_incremental_packing" -> t41PackingSql,

    "t33_temperature_mix" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |   FROM documents GROUP BY 1),
        | w AS (SELECT source, n,
        |     CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wm FROM s),
        | t AS (SELECT CAST(sum(wm) AS BIGINT) AS w_tot FROM w),
        | q AS (SELECT source, n, wm,
        |     (100000 * wm) // w_tot AS base, (100000 * wm) % w_tot AS rem
        |   FROM w, t),
        | l AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS leftover FROM q),
        | r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |   FROM q)
        |SELECT source, n, wm, base, rem,
        |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
        |FROM r, l ORDER BY source""".stripMargin,

    "t26_quality_cutoff" ->
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS pos,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(CASE WHEN pos <= (n * 9) // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN pos > (n * 9) // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(min(CASE WHEN pos <= (n * 9) // 10 THEN n_chars END) AS BIGINT) AS cutoff_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // t46: the twin replays bucketing (same md5 prefix arithmetic),
    // both Laplace-smoothed distributions, the fixed-point scores, and
    // the per-source quarter cut with a sequential window rank
    "t46_dsir_select" -> {
      def hexDig(k: Int) =
        s"(strpos('0123456789abcdef', substring(md5(wd), $k, 1)) - 1)"
      s"""WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd
         |    FROM documents WHERE text IS NOT NULL),
         | ww AS (SELECT doc_id, lang,
         |     CAST(${hexDig(1)} * 256 + ${hexDig(2)} * 16 + ${hexDig(3)} AS BIGINT) AS b
         |   FROM w WHERE length(wd) > 0),
         | db AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS n
         |   FROM ww GROUP BY doc_id, lang, b),
         | raw AS (SELECT b, CAST(sum(n) AS BIGINT) AS cr FROM db GROUP BY b),
         | tgt AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM db
         |   WHERE lang = 'en' GROUP BY b),
         | tot AS (SELECT CAST(sum(n) AS BIGINT) AS tr,
         |     CAST(COALESCE(sum(CASE WHEN lang = 'en' THEN n END), 0) AS BIGINT) AS tt
         |   FROM db),
         | sc AS (SELECT r.b,
         |     CAST(CAST(1000000 AS HUGEINT) * (COALESCE(t.ct, 0) + 1) * (tot.tr + 4096)
         |       // (CAST(r.cr + 1 AS HUGEINT) * (tot.tt + 4096)) AS BIGINT) AS l
         |   FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot),
         | wt AS (SELECT doc_id,
         |     CAST(sum(CAST(n AS HUGEINT) * l) // sum(n) AS BIGINT) AS weight
         |   FROM db JOIN sc USING (b) GROUP BY doc_id),
         | rk AS (SELECT d.doc_id, d.source, wt.weight,
         |     row_number() OVER (PARTITION BY d.source
         |       ORDER BY wt.weight DESC, d.doc_id ASC) AS r,
         |     count(*) OVER (PARTITION BY d.source) AS ns
         |   FROM documents d JOIN wt USING (doc_id) WHERE d.text IS NOT NULL)
         |SELECT doc_id, source, weight, r <= (ns + 3) // 4 AS selected
         |FROM rk ORDER BY doc_id""".stripMargin
    },

    "t24_stratified_split" ->
      """WITH r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS pos,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN pos <= (n * 8) // 10 THEN 'train'
        |       WHEN pos <= (n * 9) // 10 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM r GROUP BY 1, 2 ORDER BY source, split""".stripMargin)

  val oracle: Map[String, String] = oracleExtra ++ Map(
    // Same algebraic 3σ form, same cast-to-double points, identical
    // IEEE expression order — the comparison is bit-exact cross-engine.
    "e11_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type,
        |   CAST(round("value" * 100) AS BIGINT) AS cents FROM events),
        | st AS (SELECT event_type,
        |   CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(cents) AS DOUBLE) AS sm,
        |   CAST(sum(cents * cents) AS DOUBLE) AS s2
        |  FROM ev GROUP BY 1)
        |SELECT event_id, event_type, cents
        |FROM ev JOIN st USING (event_type)
        |WHERE (n * cents - sm) * (n * cents - sm) > 9.0 * (n * s2 - sm * sm)
        |ORDER BY event_id""".stripMargin,

    "t16_lm_familiarity" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | bg AS (SELECT doc_id,
        |     unnest(list_transform(range(1, len(w)), i -> [w[i], w[i + 1]])) AS p FROM w),
        | b AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bg
        |   WHERE p[1] <> '' AND p[2] <> ''),
        | c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        | pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |     CAST(sum(cnt) AS BIGINT) AS fam_sum
        |   FROM b JOIN c USING (w1, w2) GROUP BY 1),
        | pa AS (SELECT doc_id, n_bigrams, fam_sum,
        |     fam_sum // n_bigrams AS avg_fam FROM pd),
        | tot AS (SELECT sum(fam_sum) // sum(n_bigrams) AS corpus_avg FROM pa)
        |SELECT doc_id, n_bigrams, fam_sum, avg_fam,
        | CASE WHEN avg_fam >= 2 * corpus_avg THEN 'head'
        |      WHEN avg_fam >= corpus_avg THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM pa CROSS JOIN tot ORDER BY doc_id""".stripMargin,

    "t20_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | bgp AS (SELECT doc_id,
        |     unnest(list_transform(range(1, len(w)), i -> [w[i], w[i + 1]])) AS p FROM w),
        | bg AS (SELECT DISTINCT doc_id, p[1] || '_' || p[2] AS g FROM bgp
        |   WHERE p[1] <> '' AND p[2] <> ''),
        | owner AS (SELECT g, min(doc_id) AS first_doc FROM bg GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        | CAST(count(*) FILTER (first_doc = doc_id) AS BIGINT) AS n_novel,
        | (100 * CAST(count(*) FILTER (first_doc = doc_id) AS BIGINT))
        |   // CAST(count(*) AS BIGINT) AS novelty_pct
        |FROM bg JOIN owner USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "e12_value_histogram" ->
      """SELECT event_type,
        | CAST(floor(CAST(round("value" * 100) AS BIGINT) / 2500) AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t19_k_anonymity" ->
      """WITH cls AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS class_size
        |             FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(count(*) FILTER (class_size < 5) AS BIGINT) AS n_violating,
        | CAST(COALESCE(sum(class_size) FILTER (class_size < 5), 0) AS BIGINT)
        |   AS rows_at_risk,
        | min(class_size) AS min_class
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,

    // The evolved files derive deterministically from orders, so the
    // twin reconstructs the merged view straight from the base table.
    "s16_schema_evolution" ->
      """WITH m AS (SELECT o_orderkey AS okey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |   CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status
        |  FROM orders)
        |SELECT COALESCE(status, 'none') AS status,
        | CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "s14_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS okey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS base_cents FROM orders),
        | ch AS (SELECT
        |   CASE WHEN l_partkey % 50 = 0 THEN l_orderkey + 100000000 ELSE l_orderkey END AS okey,
        |   CASE WHEN (l_orderkey + l_linenumber) % 10 < 2 THEN 'delete' ELSE 'upsert' END AS op,
        |   CAST(round(l_extendedprice * 100) AS BIGINT) AS new_cents,
        |   l_orderkey * 8 + l_linenumber AS seq FROM lineitem),
        | last AS (SELECT okey, op, new_cents FROM
        |   (SELECT *, row_number() OVER
        |      (PARTITION BY okey ORDER BY seq DESC, op DESC, new_cents DESC) AS rn FROM ch)
        |   WHERE rn = 1),
        | m AS (SELECT coalesce(b.okey, l.okey) AS okey, b.base_cents, l.op, l.new_cents
        |   FROM base b FULL OUTER JOIN last l ON b.okey = l.okey)
        |SELECT okey,
        | CASE WHEN op = 'upsert' THEN new_cents ELSE base_cents END AS cents,
        | CASE WHEN op IS NULL THEN 'kept'
        |      WHEN base_cents IS NULL THEN 'inserted' ELSE 'updated' END AS src
        |FROM m WHERE op IS NULL OR op <> 'delete' ORDER BY okey""".stripMargin,

    "e10_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day // 7 AS cohort_week, (day - cohort_day) // 7 AS week_offset,
        | count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t13_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |   FROM toks WHERE term <> '' GROUP BY 1, 2),
        | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
        | sc AS (SELECT doc_id, term, tf, df, tf * ((1000000 * n_total) // df) AS score
        |   FROM tf JOIN df USING (term) CROSS JOIN tot),
        | r AS (SELECT *, row_number() OVER
        |   (PARTITION BY doc_id ORDER BY score DESC, term) AS "rank" FROM sc)
        |SELECT doc_id, "rank", term, tf, df, score FROM r WHERE "rank" <= 3
        |ORDER BY doc_id, "rank"""".stripMargin,

    "t14_bigram_next" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        | bg AS (SELECT unnest(list_transform(range(1, len(w)), i -> [w[i], w[i + 1]])) AS p FROM w),
        | c AS (SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS cnt
        |   FROM bg WHERE p[1] <> '' AND p[2] <> '' GROUP BY 1, 2),
        | r AS (SELECT *, row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rn FROM c)
        |SELECT w1, w2 AS next_word, cnt FROM r WHERE rn = 1 ORDER BY w1""".stripMargin,

    "t15_redact" ->
      """WITH r AS (SELECT doc_id,
        |   substr(text, 1, 40) || ' uid:' || CAST(doc_id AS VARCHAR) ||
        |   ' len:' || CAST(n_chars AS VARCHAR) AS raw FROM documents)
        |SELECT doc_id, regexp_replace(raw, '[0-9]+', '<NUM>', 'g') AS masked,
        | CAST(len(regexp_extract_all(raw, '[0-9]+')) AS BIGINT) AS n_masked
        |FROM r ORDER BY doc_id""".stripMargin,

    "s17_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s15_partition_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE epoch_us(ts) // 86400000000 BETWEEN 19730 AND 19736
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // s20's twin replays the sink's layout function: exclusive prefix
    // sum of token weights in doc_id order, per = ceil(total/8),
    // shard = min(prefix div per, 7).
    "s20_token_shards" ->
      """WITH d AS (SELECT doc_id,
        |     CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w
        |   FROM documents),
        | prm AS (SELECT GREATEST(1, (CAST(sum(w) AS BIGINT) + 7) // 8) AS per FROM d),
        | p AS (SELECT doc_id, w, COALESCE(CAST(sum(w) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
        |   FROM d),
        | a AS (SELECT doc_id, w, LEAST(off // per, 7) AS shard FROM p, prm)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS tokens,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // s21's twin is the SEQUENTIAL formulation the distributed
    // numbering must equal: one global row_number over the permutation
    // key — per-document hash equality proves GlobalOrder's
    // range-repartitioned rank reproduces it exactly.
    "s21_shuffled_shards" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY (doc_id * 2654435761) % 1000000007, doc_id)
        |      - 1 AS rank0
        |  FROM documents)
        |SELECT doc_id, CAST(rank0 % 16 AS BIGINT) AS shard,
        |  CAST(rank0 // 16 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
