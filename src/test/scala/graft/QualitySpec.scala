package graft

import graft.queries.{AnnQueries, TextQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality-rule composite (t7), repetition scoring (t8), and int8
  * quantization (x5): branch coverage on planted documents plus the
  * quantizer's analytic error bound on the real fixture. */
class QualitySpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}
  import spark.implicits._

  /** `body` over a temp dir holding a documents.parquet with the given
    * texts; the dir is deleted afterwards. */
  private def withDocs[T](texts: Seq[String])(body: String => T): T =
    SparkTestBase.withTempDir("graft_quality") { dir =>
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      body(dir)
    }

  test("t53 LM perplexity: fluent held-out text scores below scrambled and OOV text") {
    val fluent = "the cat sat on the mat and the dog ran to the park"
    // withDocs ids are positional: held-out = % 5 == 0 -> 0, 5, 10;
    // train (1-4, 6-9) carries the fluent bigram distribution
    val scrambled = "park mat the to cat ran dog the on and sat the mat"
    val oov = "qzx wvv jkl pqr mno zzz qqq xxy yzz aab cde fgh ijk"
    withDocs(Seq(
      fluent,
      fluent, fluent, fluent, fluent,
      scrambled,
      fluent, fluent, fluent, fluent,
      oov)) { dir =>
      val out = SparkEntry.queries("t53_lm_perplexity")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out.keySet === Set(0L, 5L, 10L), s"${out.keySet}")
      // every word is one bigram-left except the last
      Seq(0L -> fluent, 5L -> scrambled, 10L -> oov).foreach { case (id, t) =>
        assert(out(id)._1 === t.split(" ").length - 1, s"doc $id bigram count") }
      val (xf, xs, xo) = (out(0L)._2, out(5L)._2, out(10L)._2)
      assert(xf < xs && xf < xo,
        s"fluent text must score lowest cross-entropy: fluent $xf scrambled $xs oov $xo")
      // trained-bigram mass dominates the smoothing floor by a wide margin
      assert(xs - xf > 1.0 && xo - xf > 1.0,
        s"junk must sit well above the fluent score: $xf / $xs / $xo")
      // the model lifecycle: the landed store serves the identical rows,
      // the refresh (store + delta's own aggregate) equals the retrain,
      // the store lands once and is never rewritten by serves
      def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq
      val base = rows("t53_lm_perplexity")
      assert(rows("t54_lm_landed_score") === base,
        "landed-store scoring must equal the recompute")
      assert(rows("t55_lm_refresh") === base,
        "count-store refresh must equal the full retrain")
      val p1 = graft.queries.TextQueries.lmCountsLandingFor(spark, dir)
      val files0 = Option(new java.io.File(p1).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
      assert(files0.nonEmpty, "LM count store must materialize")
      SparkEntry.queries("t54_lm_landed_score")(spark, dir).collect()
      assert(graft.queries.TextQueries.lmCountsLandingFor(spark, dir) === p1)
      val files1 = Option(new java.io.File(p1).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
      assert(files1 === files0, "serves must not rewrite the landed count store")
      graft.queries.Caches.release(spark, dir)
      assert(!new java.io.File(p1).exists(), "release must reclaim the store")
    }
  }

  test("t58 trigram LM: fluent text scores lowest; landed/refresh serves equal the retrain") {
    val fluent = "the cat sat on the mat and the dog ran to the park"
    val scrambled = "park mat the to cat ran dog the on and sat the mat"
    val oov = "qzx wvv jkl pqr mno zzz qqq xxy yzz aab cde fgh ijk"
    withDocs(Seq(
      fluent, fluent, fluent, fluent, fluent,
      scrambled, fluent, fluent, fluent, fluent, oov)) { dir =>
      val out = SparkEntry.queries("t58_lm3_perplexity")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out.keySet === Set(0L, 5L, 10L), s"${out.keySet}")
      Seq(0L -> fluent, 5L -> scrambled, 10L -> oov).foreach { case (id, t) =>
        assert(out(id)._1 === t.split(" ").length - 2, s"doc $id trigram count") }
      val (xf, xs, xo) = (out(0L)._2, out(5L)._2, out(10L)._2)
      assert(xf < xs && xf < xo,
        s"fluent text must score lowest: fluent $xf scrambled $xs oov $xo")
      assert(xs - xf > 1.0 && xo - xf > 1.0,
        s"junk must sit >= 1 bit above fluent: $xf / $xs / $xo")
      // the trigram signal separates HARDER than the bigram surrogate on
      // the same junk: an unseen trigram context backs off through its
      // parts instead of hitting one flat smoothing floor
      def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq
      val base = rows("t58_lm3_perplexity")
      assert(rows("t59_lm3_landed_score") === base,
        "landed-store trigram scoring must equal the recompute")
      assert(rows("t60_lm3_refresh") === base,
        "trigram count-store refresh must equal the full retrain")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t62 KN trigram LM: fluent lowest, junk >= 1 bit above, landed serve equals retrain") {
    val fluent = "the cat sat on the mat and the dog ran to the park"
    val scrambled = "park mat the to cat ran dog the on and sat the mat"
    val oov = "qzx wvv jkl pqr mno zzz qqq xxy yzz aab cde fgh ijk"
    withDocs(Seq(
      fluent, fluent, fluent, fluent, fluent,
      scrambled, fluent, fluent, fluent, fluent, oov)) { dir =>
      def scores(q: String) = SparkEntry.queries(q)(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val kn = scores("t62_lm3kn_perplexity")
      assert(kn.keySet === Set(0L, 5L, 10L), s"${kn.keySet}")
      val (xf, xs, xo) = (kn(0L), kn(5L), kn(10L))
      assert(xf < xs && xf < xo,
        s"fluent text must score lowest under KN: fluent $xf scrambled $xs oov $xo")
      assert(xs - xf > 1.0 && xo - xf > 1.0,
        s"junk must sit >= 1 bit above fluent under KN: $xf / $xs / $xo")
      // continuation counts are c3 derivations, so the landed leg is free
      def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq
      assert(rows("t63_lm3kn_landed") === rows("t62_lm3kn_perplexity"),
        "landed-store KN scoring must equal the recompute")
      assert(rows("t64_lm3kn_refresh") === rows("t62_lm3kn_perplexity"),
        "KN count-store refresh must equal the full retrain")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t62 KN demotes frequent-but-single-context words harder than t58's JM mixture") {
    // the Kneser–Ney signature: 'francisco' is FREQUENT in training but
    // only ever follows 'san' (the boilerplate shape — an n-gram
    // frequent inside one template). The junk doc drops it after SEEN
    // contexts ('to the', 'the ... bay'), engaging the discounted
    // λ-backoff path on both models — there KN's continuation count
    // (1 distinct predecessor) prices it low while JM's raw-frequency
    // unigram backoff stays generous, so KN must separate the junk doc
    // from the fluent baseline harder. (With UNSEEN junk contexts both
    // models fall to their floors and the comparison says nothing —
    // KN's full fall-through floor is the higher of the two.)
    val fluent = "we flew to san francisco and saw the big bay"
    val other = "the dog ran to the park and saw the cat"
    val junk = "we flew to the francisco and saw the francisco bay"
    withDocs(Seq(
      fluent, fluent, other, fluent, other,
      junk, fluent, other, fluent, fluent,
      fluent)) { dir =>
      def sep(q: String) = {
        val m = SparkEntry.queries(q)(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getDouble(2)).toMap
        m(5L) - m(0L)
      }
      val (knSep, jmSep) = (sep("t62_lm3kn_perplexity"), sep("t58_lm3_perplexity"))
      assert(knSep > jmSep,
        s"KN must separate the boilerplate-junk doc harder than JM: KN $knSep JM $jmSep")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("model-store forget: deleted-only mass never resurrects; serves leave the stores untouched") {
    // docs 1 and 8 are the erasure targets (% 10 != 0 && % 7 == 1 —
    // the e24 carve) and both sit in the training split (% 5 != 0);
    // doc 8's unique word must vanish from BOTH forgotten models, the
    // shared words must lose exactly the two docs' own contribution
    val unique = "zzforgetonly"
    withDocs((0 to 10).map {
      case 8 => s"$unique the cat"
      case _ => "the cat sat on the mat"
    }) { dir =>
      val counts = graft.queries.PipelineQueries.bpeForgottenCounts(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(!counts.contains(unique), "deleted-only word resurrected in the BPE store")
      // "the": 10 common docs x 2 + doc 8's 1 = 21, minus deleted doc
      // 1's 2 and doc 8's 1 = 18
      assert(counts("the") === 18L, s"partial subtraction wrong: ${counts.get("the")}")
      assert(counts("cat") === 9L && counts("mat") === 9L, s"$counts")
      val c2 = graft.queries.TextQueries.lmForgottenCounts(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(!c2.keys.exists(k => k._1 == unique || k._2 == unique),
        "deleted-only bigram resurrected in the LM store")
      // ("the","cat"): train = docs 1-4,6-9 → 7 common docs once each +
      // doc 8's 1 = 8, minus deleted docs 1 and 8's own = 6
      assert(c2(("the", "cat")) === 6L, s"${c2.get(("the", "cat"))}")
      // forget is a SERVE-side signed merge: the landed stores' files
      // must be byte-identical before and after both forget gates
      def snap(p: String) = Option(new java.io.File(p).listFiles()).get
        .map(f => f.getName -> ((f.length, f.lastModified))).toMap
      val bpeStore = graft.queries.PipelineQueries.bpeCountsFor(spark, dir)
      val lmStore = graft.queries.TextQueries.lmStoreLandingFor(spark, dir)
      val (b0, l0) = (snap(bpeStore), snap(lmStore))
      val t56 = SparkEntry.queries("t56_bpe_forget")(spark, dir).collect()
      val t57 = SparkEntry.queries("t57_lm_forget")(spark, dir).collect()
      assert(t56.nonEmpty && t57.nonEmpty)
      assert(snap(bpeStore) === b0, "t56 must not rewrite the word-count store")
      assert(snap(lmStore) === l0, "t57 must not rewrite the bigram store")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t7 fires each rule branch in priority order") {
    val fill = (1 to 40).map(i => s"word$i").mkString(" ") // 40 distinct mid-length words
    withDocs(Seq(
      "too short",                                   // n_words=2 -> word_count
      (1 to 40).map(_ => "antidisestablishmentarianism").mkString(" "), // mean_word_len (high)
      (1 to 40).map(_ => "x").mkString(" "),          // mean_word_len=1 fires BEFORE diversity
      ("the " * 20 + "cat " * 20).trim,               // meanLen ok, diversity 2/40=0.05 -> low_diversity
      fill,                                           // no stopword, diverse -> no_stopwords
      s"the ${fill}")) { dir =>                       // 41 words incl 'the' -> ok
      val out = TextQueries.queries("t7_quality_rules")(spark, dir)
        .orderBy("doc_id").select("drop_reason", "keep")
        .collect().map(r => (r.getString(0), r.getBoolean(1)))
      assert(out === Array(
        ("word_count", false), ("mean_word_len", false), ("mean_word_len", false),
        ("low_diversity", false), ("no_stopwords", false), ("ok", true)))
    }
  }

  test("t8 scores planted repetition exactly") {
    // "a b a b a b": bigrams a_b, b_a, a_b, b_a, a_b -> total 5, distinct 2,
    // top a_b = 3 -> top_share 0.6, dup_ratio 1 - 2/5 = 0.6
    withDocs(Seq("a b a b a b")) { dir =>
      val r = TextQueries.queries("t8_repetition")(spark, dir).collect().head
      assert(r.getAs[Long]("n_bigrams") === 5L)
      assert(r.getAs[Long]("n_distinct") === 2L)
      assert(r.getAs[Double]("top_share") === 0.6)
      assert(r.getAs[Double]("dup_ratio") === 0.6)
    }
  }

  test("approx_count_distinct (the 100 TB sketch path) lands within 5% of exact t11") {
    val exact = graft.queries.AnalyticsQueries.queries("t11_distinct_counts")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("source").agg(approx_count_distinct("t").as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (src, e) =>
      assert(math.abs(approx(src) - e) <= math.max(1L, (0.05 * e).toLong),
        s"$src: approx ${approx(src)} vs exact $e")
    }
  }

  test("approx_percentile (the 100 TB sketch path) matches exact t9 at spec scale") {
    // At accuracy 10000 over a few-hundred-row group the KLL-style sketch
    // is exact, so it must reproduce percentile_disc's order statistics.
    val exact = graft.queries.AnalyticsQueries.queries("t9_quantiles")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approx = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(percentile_approx(col("n_chars"), array(lit(0.25), lit(0.5), lit(0.9)),
        lit(10000)).as("q"))
      .collect().map { r =>
        val q = r.getSeq[Long](1); r.getString(0) -> ((q(0), q(1), q(2)))
      }.toMap
    assert(exact === approx)
  }

  test("x6 Lloyd-refined codebook beats the seed codebook's reconstruction error") {
    import org.apache.spark.sql.expressions.Window
    // Seed-codebook (the pre-refinement "first 16 vectors") assignment,
    // reproduced here: total err of x6's refined assignment must improve
    // on it — the point of carrying k-means iterations at all.
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT))").as("qv"))
    val subs = emb.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 3), s -> slice(qv, s * 16 + 1, 16))")).as(Seq("s", "sub")))
    val cb0 = subs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("code"), col("s"), col("sub").as("csub"))
    val w = Window.partitionBy("vec_id", "s").orderBy(col("d").asc, col("code").asc)
    val seedErr = subs.join(broadcast(cb0), Seq("s"))
      .withColumn("d", expr(
        "aggregate(zip_with(sub, csub, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .agg(sum("d")).as[Long].head()
    val refinedErr = AnnQueries.queries("x6_pq_assign")(spark, sfDir)
      .agg(sum("err")).as[Long].head()
    assert(refinedErr < seedErr,
      s"refined codebook err $refinedErr did not improve on seed err $seedErr")
  }

  test("x7 ADC ranks are monotone and its top-5 beats the corpus-average true distance") {
    val adc = AnnQueries.queries("x7_pq_adc")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(adc.nonEmpty)
    adc.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length),
        s"qid $qid ranks not dense")
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sorted,
        s"qid $qid adc_d not monotone in rank")
    }
    // Signal check: ADC is lossy, but picking by it must clearly beat
    // picking at random — the mean TRUE (quantized-grid) distance of
    // the ADC top-5 must be below the corpus mean for every query.
    val grid = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def trueD(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    adc.groupBy(_._1).foreach { case (qid, rs) =>
      val q = grid(qid)
      val all = grid.collect { case (id, v) if id != qid => trueD(q, v) }
      val corpusMean = all.sum.toDouble / all.size
      val top5Mean = rs.map(r => trueD(q, grid(r._3))).sum.toDouble / rs.size
      assert(top5Mean < corpusMean,
        s"qid $qid: ADC top-5 true-dist mean $top5Mean not below corpus mean $corpusMean")
    }
  }

  test("x8 rerank top-5 dominates x7's ADC top-5 in exact cosine (rerank can only help)") {
    // x8 picks the best 5 of the ADC top-20 by exact cosine, so its
    // mean exact cosine must be >= the exact cosine of ANY other
    // 5-subset of those candidates — in particular x7's ADC top-5.
    val vecsMap = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    def meanTopCos(rows: Array[(Long, Long)]): Map[Long, Double] =
      rows.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(r => cos(vecsMap(q), vecsMap(r._2))).sum / rs.length
      }
    val adc5 = meanTopCos(AnnQueries.queries("x7_pq_adc")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))))
    val rr5 = meanTopCos(AnnQueries.queries("x8_pq_rerank")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))))
    assert(adc5.keySet === rr5.keySet)
    adc5.foreach { case (q, m) =>
      assert(rr5(q) >= m - 1e-12, s"qid $q: rerank mean ${rr5(q)} < ADC mean $m")
    }
  }

  test("x9 IVF+PQ honors cell discipline: every hit shares a probed cell with its query") {
    val out = AnnQueries.queries("x9_ivf_pq")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(out.nonEmpty)
    // independent driver-side cell assignment (exact cosine argmax)
    val vecsArr = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val cents = vecsArr.keys.filter(_ % 50 == 1).toSeq.sorted
    def rankedCells(id: Long): Seq[Long] =
      cents.map(c => (c, cos(vecsArr(id), vecsArr(c))))
        .sortBy { case (c, sim) => (-sim, c) }.map(_._1)
    out.foreach { case (qid, nid) =>
      val probed = rankedCells(qid).take(4).toSet
      val cell = rankedCells(nid).head
      assert(probed.contains(cell),
        s"hit $nid (cell $cell) outside qid $qid's probed cells $probed")
    }
  }

  test("d10 boilerplate coverage merges overlapping spans on a planted fixture") {
    // 10 docs share both bigrams (df=10 >= threshold); the 11th has
    // unique bigrams -> full vs zero coverage.
    withDocs((1 to 10).map(_ => "the cat sat") :+ "dog runs fast") { dir =>
      val out = graft.queries.DedupQueries.queries("d10_boilerplate")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.length === 11)
      out.filter(_._1 < 10).foreach { case (id, n, c, pct) =>
        assert((n, c, pct) === ((3L, 3L, 100L)), s"doc $id")
      }
      assert(out.find(_._1 == 10L).get === ((10L, 3L, 0L, 0L)))
    }
  }

  test("d12 PageRank matches an independent driver-side recomputation of the 5 rounds") {
    val out = graft.queries.DedupQueries.queries("d12_pagerank")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 20)
    assert(out.map(_._3).toSeq === out.map(_._3).sorted.reverse, "ranks not descending")
    // independent recomputation from the raw edge list
    val e1 = Tables.lineitem(spark, sfDir)
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = e1 ++ e1.map { case (s, d) => (d, s) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    var rank = deg.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to 5) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => inflow(d) += rank(s) / deg(s) }
      rank = inflow.map { case (n, f) => n -> (150000L + 85L * f / 100L) }.toMap
    }
    val expTop = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
      .map { case (n, r) =>
        (if (n % 2 == 0) "order" else "part", n / 2, r)
      }
    assert(out.toSeq === expTop)
  }

  test("t18 entropy is exact on planted token distributions") {
    withDocs(Seq("a a b b", "x x x x", "a b c d")) { dir =>
      val out = graft.queries.TextQueries.queries("t18_token_entropy")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(out.toSeq === Seq(
        (0L, 4L, 2L, 1.0),   // two 50/50 symbols -> 1 bit
        (1L, 4L, 1L, 0.0),   // constant -> 0 bits
        (2L, 4L, 4L, 2.0)))  // four uniform symbols -> 2 bits
    }
  }

  test("e11 flags exactly the rows an independent 3-sigma recomputation flags") {
    val flagged = graft.queries.PipelineQueries.queries("e11_anomaly")(spark, sfDir)
      .collect().map(r => r.getLong(0)).toSet
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val n = rows.length.toDouble
      val sm = rows.map(_._3).sum.toDouble
      val s2 = rows.map(r => r._3 * r._3).sum.toDouble
      rows.toSeq.collect { case (id, _, v)
        if (n * v - sm) * (n * v - sm) > 9.0 * (n * s2 - sm * sm) => id }
    }.toSet
    assert(flagged === expected)
  }

  test("t20 novelty credits first occurrence and zeroes the rehash") {
    withDocs(Seq("a b c", "a b c", "x y")) { dir =>
      val out = graft.queries.PipelineQueries.queries("t20_novelty")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.toSeq === Seq(
        (0L, 2L, 2L, 100L),  // owns a_b and b_c
        (1L, 2L, 0L, 0L),    // verbatim rehash of doc 0
        (2L, 1L, 1L, 100L))) // fresh content
    }
  }

  test("t16 familiarity scores and buckets match the hand-computed fixture") {
    withDocs(Seq("a b a b", "a b c", "z z", "q q q q q q q q")) { dir =>
      // corpus bigram counts: (a,b)=3 (b,a)=1 (b,c)=1 (z,z)=1 (q,q)=7
      // fams: d0=3+1+3=7/3bg, d1=3+1=4/2, d2=1/1, d3=49/7
      // corpus_avg = 61 div 13 = 4 -> d3 middle (7>=4), rest tail
      val out = graft.queries.PipelineQueries.queries("t16_lm_familiarity")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      assert(out.toSeq === Seq(
        (0L, 3L, 7L, 2L, "tail"), (1L, 2L, 4L, 2L, "tail"),
        (2L, 1L, 1L, 1L, "tail"), (3L, 7L, 49L, 7L, "middle")))
    }
  }

  test("x11 IVF+PQ+rerank recall@5 vs x1 brute force averages >= 0.9 (sf0.01)") {
    // sf0.001 has a single coarse cell (the assertion would be vacuous:
    // full rerank ≡ brute force), so this gate runs on sf0.01 — 10
    // cells, 500 vectors, the same fixture the driver's hash gate uses.
    val dir = "/root/testdata/sf0.01"
    val brute = AnnQueries.queries("x1_ann_brute")(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = AnnQueries.queries("x11_ivf_pq_rerank")(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byQ = brute.groupBy(_._1)
    val recalls = byQ.map { case (_, pairs) =>
      pairs.count(served.contains).toDouble / pairs.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"recall@5 $avg below the production-path bar")
  }

  test("x10 IVF+PQ recall@5 >= 0.8 on a CLUSTERED fixture (the production shape)") {
    // The sf fixtures' embeddings are uniform random — the adversarial
    // case for any ANN structure, where x10 honestly measures 0.2 and
    // the number guards nothing. Production embeddings cluster; this
    // fixture plants 101 micro-clusters of 6 near-identical vectors
    // (the near-dup/retrieval shape the serving path exists for):
    // coarse cells resolve the clusters, and each cluster owns its
    // argmin PQ code combination, so ADC ranking carries real signal.
    // Deterministic layout rides the suite's id conventions: cluster =
    // id mod 101, so the % 50 == 1 centroid sample and the % 50 == 0
    // query set each hit 13 distinct clusters, and each query's true
    // top-5 is exactly its 5 cluster-mates.
    SparkTestBase.withTempDir("graft_clustered") { dir =>
      val rnd = new scala.util.Random(7)
      val dim = 64
      val nClusters = 101
      val n = 606 // 6 members per cluster, exactly
      val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
      val rows = (0 until n).map { id =>
        val c = centers(id % nClusters)
        // sigma 0.002 is sub-quantization-grid (1/64): mates share codes
        (id.toLong, c.map(x => (x + 0.002 * rnd.nextGaussian()).toFloat).toSeq)
      }
      import spark.implicits._
      rows.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val rec = AnnQueries.queries("x10_pq_recall")(spark, dir).collect()
      assert(rec.length === 13, "one recall row per planted query")
      val avg = rec.map(_.getAs[Double]("recall")).sum / rec.length
      info(f"x10 recall@5 on the clustered fixture: $avg%.3f")
      assert(avg >= 0.8, f"clustered recall@5 $avg%.3f under the production bar")
    }
  }

  test("x12 filtered ANN returns only allowed-source neighbors, for every query") {
    val allowed = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("source")
        .isin("src1", "src2", "src3", "src4", "src5"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hits = AnnQueries.queries("x12_ann_filtered")(spark, sfDir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty, "filtered search should find admissible neighbors")
    val violating = hits.filterNot { case (_, nid) => allowed.contains(nid) }
    assert(violating.isEmpty, s"inadmissible results served: ${violating.take(5).toSeq}")
  }

  test("x5 quantization meets the analytic error bound") {
    val out = AnnQueries.queries("x5_quantize")(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val rmse = r.getAs[Double]("rmse")
      // per-element |x - q/scale| <= 0.5/scale (+ rounding-of-display slack)
      assert(rmse <= 0.5 / scale + 1e-6,
        s"vec ${r.getAs[Long]("vec_id")}: rmse $rmse exceeds bound ${0.5 / scale}")
      // the max-|x| element always lands exactly on ±127
      assert(r.getAs[Int]("n_clipped") >= 1)
    }
  }

  test("s24 constraint audit counts planted violations of every rule exactly") {
    SparkTestBase.withTempDir("graft_s24_probe") { dir =>
      // orders: one null custkey, one duplicated orderkey, one negative
      // price, one bad status, one FK-dangling custkey (99)
      Seq(
        (Option(1L), 10L, 100.0, "O"),
        (Option(1L), 11L, 50.0, "F"),
        (Option.empty[Long], 12L, 10.0, "O"),   // NOT NULL violation
        (Option(2L), 13L, -5.0, "P"),           // range violation
        (Option(2L), 13L, 20.0, "X"),           // dup orderkey + bad status
        (Option(99L), 14L, 30.0, "O"))          // dangling FK
        .toDF("o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus")
        .write.parquet(s"$dir/orders.parquet")
      Seq(1L, 2L).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
      // lineitem: two rows referencing order 10, one dangling (77)
      Seq(10L, 10L, 77L).toDF("l_orderkey").write.parquet(s"$dir/lineitem.parquet")
      val rows = SparkEntry.queries("s24_constraint_audit")(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows("orders.o_custkey NOT NULL") === ((6L, 1L)))
      assert(rows("orders.o_orderkey UNIQUE") === ((6L, 1L)))
      assert(rows("orders.o_totalprice > 0") === ((6L, 1L)))
      assert(rows("orders.o_orderstatus IN (O,F,P)") === ((6L, 1L)))
      // 5 non-null custkeys checked; the 99 dangles
      assert(rows("orders.o_custkey REFERENCES customer") === ((5L, 1L)))
      // dup orderkey 13 in the dim side must not double-count fact rows:
      // lineitem has no key 13 — 3 checked, the 77 dangles
      assert(rows("lineitem.l_orderkey REFERENCES orders") === ((3L, 1L)))
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t39 language ID separates the planted orthographies with positive margins") {
    val rows = SparkEntry.queries("t39_lang_id")(spark, sfDir).collect()
    assert(rows.nonEmpty, "no scored documents")
    // the planted vowel transforms give each language a disjoint
    // high-mass trigram region — the classifier must recover every
    // label (a broken profile or scoring pass shows up as confusion)
    val wrong = rows.filterNot(_.getAs[Boolean]("correct"))
    assert(wrong.isEmpty,
      s"misclassified: ${wrong.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq}")
    // argmax must be strict: a zero margin means a tie broken by name,
    // i.e. no signal — every planted doc should have real separation
    assert(rows.forall(_.getAs[Long]("margin") > 0L),
      "some verdicts carry zero margin (no separation)")
  }

  test("t40 mixture allocation is exact: seats sum to the budget, every language seated") {
    val rows = SparkEntry.queries("t40_predlang_mix")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum === 100000L,
      "Hamilton apportionment must hand out the budget exactly")
    assert(rows.length === 5, s"expected 5 predicted languages, got ${rows.length}")
    assert(rows.forall(_.getAs[Long]("alloc") > 0L), "a language starved")
    graft.queries.Caches.release(spark, sfDir)
  }

  test("t43 count-store refresh: surgical single-partition write-back, exactly-once replay") {
    import graft.queries.PipelineQueries
    // land the PRE-delta count store, then snapshot its per-partition
    // file inventory (name → (size, mtime)): the merge write-back
    // writes new task-UUID file names into every partition it
    // replaces, so an unchanged inventory means untouched bytes
    val path = PipelineQueries.langCountsFor(spark, sfDir)
    def snap(): Map[String, Map[String, (Long, Long)]] = {
      val root = new java.io.File(path)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("lang="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
        }.toMap
    }
    val before = snap()
    assert(before.keySet === Set("lang=de", "lang=en", "lang=es", "lang=fr", "lang=zh"))
    val profile1 = SparkEntry.queries("t43_profile_refresh")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val after1 = snap()
    // the delta batch is es-only, so the dynamic overwrite must have
    // rewritten exactly the es partition and nothing else
    val changed1 = (before.keySet ++ after1.keySet)
      .filter(p => before.get(p) != after1.get(p))
    assert(changed1 === Set("lang=es"),
      s"write-back must touch only lang=es, touched: $changed1")
    // exactly-once: replaying the same batch must be a pure no-op —
    // same profile (counts NOT doubled), zero files rewritten
    val profile2 = SparkEntry.queries("t43_profile_refresh")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(snap() === after1, "a replayed batch rewrote store files")
    assert(profile2 === profile1, "a replayed batch changed the profile")
    // the merged store must hold the TRUE labeled-split counts for the
    // delta language — the double-count a missing marker would cause
    // shows up here as es counts at 2× delta contribution
    val storeEs = spark.read.schema(PipelineQueries.t43CountSchema).parquet(path)
      .filter(col("lang") === "es")
      .select("g", "cnt").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val trueEs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && length(col("text")) >= 3 &&
        col("lang") === "es" && col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        translate(col("text"), "aeio", "áéíó").as("t"))
      .withColumn("cs", split(col("t"), ""))
      .select(explode(expr(
        "transform(sequence(1, length(t) - 2)," +
          " i -> concat(cs[i - 1], cs[i], cs[i + 1]))")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(storeEs === trueEs,
      "merged es counts diverge from the full labeled-split recompute")
    graft.queries.Caches.release(spark, sfDir)
  }

  test("t46 DSIR selection: target-like docs outrank, per-source quarter cut is exact") {
    import spark.implicits._
    SparkTestBase.withTempDir("graft_t46") { dir =>
      // target slice (lang=en) repeats its vocabulary enough that the
      // smoothed ratio separates (with singleton counts the +1 smoothing
      // dominates and every ratio collapses toward the same value)
      Seq(
        (1L, ("alpha beta gamma delta " * 15).trim, "en", "ref"),
        (2L, ("alpha beta epsilon zeta " * 15).trim, "en", "ref"),
        (10L, "alpha beta gamma delta alpha beta", "xx", "srcA"), // target-like
        (11L, "qq ww ee rr tt yy uu ii", "xx", "srcA"),           // disjoint
        (12L, "zz xx cc vv bb nn mm kk", "xx", "srcA"),           // disjoint
        (13L, "alpha qq ww ee rr tt yy uu", "xx", "srcA"))        // one hit
        .map { case (i, t, l, src) => (i, t, l, src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("t46_dsir_select")(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
      val srcA = Seq(10L, 11L, 12L, 13L).map(d => d -> out(d))
      // (no finer ordering asserted among the junk docs: hashed features
      // collide, so a junk word landing in a target-heavy bucket can
      // shift weights — expected noise of the 4096-bucket representation)
      assert(Seq(11L, 12L, 13L).forall(d => out(10L)._1 > out(d)._1),
        s"the target-vocabulary doc must outweigh every junk doc: $srcA")
      // (4 + 3) div 4 = 1: exactly the top doc of srcA is selected
      assert(srcA.count(_._2._2) === 1 && out(10L)._2,
        s"per-source quarter cut must select exactly doc 10: $srcA")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t46 score arithmetic is exact past the BIGINT overflow boundary (r13 regression)") {
    import spark.implicits._
    // The r13 bug: the ratio numerator S*(ct+1)*(tr+B) computed in
    // BIGINT wraps past 2^63 and Spark wraps SILENTLY (DuckDB raises).
    // Corpus at the boundary: T = 3.1M tokens of ONE word, all lang=en,
    // so a single bucket carries ct = cr = tt = tr = T and the numerator
    // is 1e6 * (T+1) * (T+4096) ~ 9.6e18 > 2^63. The exact DECIMAL(38,0)
    // value of every doc's weight is then EXACTLY S = 1e6:
    //   l = S*(T+1)*(T+B) div ((T+1)*(T+B)) = S,  weight = S.
    // Pre-fix, the wrapped numerator went negative and the weight came
    // out wrong — this pins the DECIMAL widening.
    SparkTestBase.withTempDir("graft_t46_ovf") { dir =>
      val words = 100000
      val text = ("tok " * words).trim
      (1L to 31L).map(i => (i, text, "en", "src", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("t46_dsir_select")(spark, dir)
        .select("doc_id", "weight").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.size === 31 && out.values.forall(_ === 1000000L),
        s"every weight must be exactly S=1e6 at the overflow boundary: ${out.toSeq.sortBy(_._1).take(3)}")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t49 public-sample lang-ID: held-out recovery far above the chance floor") {
    val out = SparkEntry.queries("t49_public_lang_id")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(4), r.getBoolean(5)))
    // sid ≡ 0 (mod 3) across the seven 14-sentence blocks (bases 0,
    // 100, ..., 600 shift the residues): 5+4+5+5+4+5+5 = 33 held out
    // (el is the non-Latin script leg, zh the no-whitespace leg)
    assert(out.length === 33, s"held-out split size: ${out.length}")
    val acc = out.count(_._5).toDouble / out.length
    assert(acc >= 0.8,
      s"held-out accuracy $acc must clear chance (1/7) with a wide margin: " +
        out.filterNot(_._5).map(r => s"${r._1}:${r._2}->${r._3}").mkString(", "))
    assert(out.filter(_._5).forall(_._4 > 0),
      "every correct prediction must carry a positive margin")
    // the no-whitespace leg must recover PERFECTLY: with no word
    // boundaries, only a genuinely character-level profile can key on
    // it, and its codepoint range is disjoint from every other block
    val zh = out.filter(_._2 == "zh")
    assert(zh.length === 5 && zh.forall(_._5),
      s"zh held-out must all recover: ${zh.mkString(", ")}")
  }

  test("BPE landing: model lands once and serves; refresh from the count store equals retrain") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the landed-model encode is row-identical to the memoized-model
    // encode (both also hash-gate against the from-scratch twin)
    assert(rows("t50_bpe_landed_encode") === rows("t34_bpe_encode"),
      "landed-model encoding must equal the memoized-model encoding")
    // refresh-from-store reproduces the full retrain's merge trace
    assert(rows("t51_bpe_refresh") === rows("t27_bpe_merges"),
      "count-store refresh must equal the full retrain")
    // the model artifact lands once: same path on re-request, files
    // byte-untouched across every serve above
    val p1 = graft.queries.PipelineQueries.bpeModelFor(spark, sfDir)
    val files0 = Option(new java.io.File(p1, "vocab").listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(files0.nonEmpty, "model landing must materialize")
    SparkEntry.queries("t50_bpe_landed_encode")(spark, sfDir).collect()
    val p2 = graft.queries.PipelineQueries.bpeModelFor(spark, sfDir)
    val files1 = Option(new java.io.File(p1, "vocab").listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(p2 === p1 && files1 === files0,
      "serving must read the landed model, never rebuild it")
    // the merges/ leg is the model of record: 3 rank-ordered merges
    val m = spark.read.schema(graft.queries.PipelineQueries.bpeMergesSchema)
      .parquet(s"$p1/merges").collect()
    assert(m.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L),
      "landed merge list must carry the rank-ordered training trace")
  }

  test("t45 winnowing: exact vs naive recompute, window coverage, shared-substring guarantee") {
    val K = 20; val W = 8
    // naive reference: hash every K-gram, take min-with-rightmost-tie
    // per window, distinct — the textbook definition, no encoding trick
    def gramHash(s: String, i: Int): Long = {
      var h = 0L
      var j = i
      while (j < i + K) { h = (h * 131 + s.codePointAt(j)) % 2147483647L; j += 1 }
      h
    }
    def naive(s: String): Set[(Long, Long)] = {
      val n = s.length - K + 1
      val hs = (0 until n).map(h => gramHash(s, h))
      (0 to n - W).map { j =>
        val win = (j until j + W).map(p => (hs(p), p))
        val m = win.map(_._1).min
        val pos = win.filter(_._1 == m).map(_._2).max // rightmost tie
        (pos.toLong, m)
      }.toSet
    }
    val shared = "THE-QUICK-BROWN-FOX-JUMPS-OVER-THE-LAZY-DOG-TWICE" // 50 chars >= K+W-1
    val d0 = "abcdefg" * 13 // period 7 < W: forces hash TIES inside windows
    val d1 = s"left-context-padding-000 $shared tail-one-111111"
    val d2 = s"совершенно другой префикс $shared другой хвост" // non-ASCII context
    withDocs(Seq(d0, d1, d2, "short")) { dir =>
      val out = SparkEntry.queries("t45_winnowing")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val byDoc = out.groupBy(_._1).map { case (d, rs) =>
        d -> rs.map(r => (r._2, r._3)).toSet }
      assert(!byDoc.contains(3L), "a doc shorter than K+W-1 must emit nothing")
      for ((d, txt) <- Seq(0L -> d0, 1L -> d1, 2L -> d2)) {
        assert(byDoc(d) === naive(txt), s"doc $d diverges from the naive recompute")
        // coverage guarantee: every window of W gram positions holds a fingerprint
        val ps = byDoc(d).map(_._1)
        for (j <- 0 to txt.length - K + 1 - W)
          assert(ps.exists(p => p >= j && p < j + W), s"doc $d window $j unsampled")
      }
      // the MOSS guarantee: two docs sharing a >= K+W-1 substring share a
      // fingerprint HASH (positions differ — the match survives offset shift)
      val sharedHashes = byDoc(1L).map(_._2) intersect byDoc(2L).map(_._2)
      assert(sharedHashes.nonEmpty,
        "docs sharing a 50-char span must share a winnowed fingerprint")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t45 winnowing: a doc past the 2^22 gram-position encoding limit fails loudly") {
    // the single-Long encoding h·2²² + (2²²−1−pos) silently corrupts
    // past 2²² gram positions; the operator's contract is to REFUSE
    // such docs instead of mis-fingerprinting them
    val over = "x" * ((1 << 22) + 20) // 1 gram position past the limit
    withDocs(Seq("a normal document long enough to winnow ok", over)) { dir =>
      val ex = intercept[Exception] {
        SparkEntry.queries("t45_winnowing")(spark, dir).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("2^22 gram-position encoding limit")),
        s"expected the winnow guard to fire, got: ${msgs(ex).take(3)}")
      graft.queries.Caches.release(spark, dir)
    }
  }
}
