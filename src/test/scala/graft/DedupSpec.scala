package graft

import graft.queries.{AnnQueries, DedupQueries, MultimodalQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup / ANN / multimodal: approximate methods checked against exact
  * brute-force recomputation on sf0.001. */
class DedupSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  /** Exact all-pairs Jaccard ≥ t over word-3-gram shingles. */
  private def exactJaccardPairs(t: Double): Set[(Long, Long)] = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), DedupQueries.shingles(col("text")).as("sh"))
    val a = docs.select(col("doc_id").as("d1"), col("sh").as("s1"))
    val b = docs.select(col("doc_id").as("d2"), col("sh").as("s2"))
    a.crossJoin(b).filter(col("d1") < col("d2"))
      .withColumn("i", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("j", col("i") / (size(col("s1")) + size(col("s2")) - col("i")))
      .filter(col("j") >= t)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("d2 MinHash-LSH finds exactly the Jaccard≥0.8 pairs (verify stage removes FPs)") {
    val lsh = DedupQueries.queries("d2_minhash_lsh")(spark, sfDir)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exactJaccardPairs(0.8))
    assert(lsh.nonEmpty, "fixture has planted near-dups")
  }

  test("d3 prefix-filtered join ≡ exact all-pairs at the same threshold") {
    val pf = DedupQueries.queries("d3_ngram_jaccard")(spark, sfDir)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf === exactJaccardPairs(0.5))
  }

  test("d4 SimHash chunk blocking is lossless for hamming ≤ 3") {
    val sim = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        DedupQueries.simhashUdf(DedupQueries.shingles(col("text"))).as("simhash"))
    val a = sim.select(col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = sim.select(col("doc_id").as("d2"), col("simhash").as("h2"))
    val exact = a.crossJoin(b).filter(col("d1") < col("d2"))
      .filter(expr("bit_count(h1 ^ h2) <= 3"))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = DedupQueries.queries("d4_simhash")(spark, sfDir)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === exact)
  }

  test("x4 IVF multi-probe recall@5 averages >= 0.9") {
    val rows = AnnQueries.queries("x4_ann_ivf_recall")(spark, sfDir).collect()
    assert(rows.nonEmpty, "no query vectors in fixture")
    val avg = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(avg >= 0.9, s"nprobe=8 IVF recall too low: $avg")
  }

  test("x2 LSH neighbors are true bucket-mates with exact cosines from x1's metric") {
    val x2 = AnnQueries.queries("x2_ann_lsh")(spark, sfDir).collect()
    assert(x2.nonEmpty)
    // Each (qid, nid) pair's cosine must equal the brute-force cosine for
    // the same pair (same arithmetic, no approximation in scoring).
    val x1 = AnnQueries.queries("x1_ann_brute")(spark, sfDir)
      .select("qid", "nid", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    x2.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      x1.get(key).foreach(c => assert(c === r.getAs[Double]("cosine")))
    }
    // LSH top-k is a subset of each query's bucket — ranks are contiguous
    x2.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rows.length))
    }
  }

  test("native graft_shingles ≡ the declarative HOF formulation, fixture and edge cases") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(Seq((100001L, "one"), (100002L, "two words"),
        (100003L, "a b a b a"), (100004L, "")).toDF("doc_id", "text"))
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("_w"))
    val native = w.select(col("doc_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.GraftShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("_w")))).as("sh"))
    val hof = w.select(col("doc_id"), DedupQueries.shinglesFromWords(col("_w")).as("sh"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(n.keySet === h.keySet)
    n.foreach { case (id, sh) => assert(sh === h(id), s"doc $id diverged") }
    // short docs collapse to the single null shingle in both forms
    assert(n(100001L) === Seq(null) && n(100002L) === Seq(null))
    assert(n(100003L) === Seq("a_b_a", "b_a_b"))
  }

  test("m1 container decode recovers the planted IHDR fields byte-accurately") {
    val m1a = MultimodalQueries.queries("m1_media_meta")(spark, sfDir).collect()
    val m1b = MultimodalQueries.queries("m1_media_meta")(spark, sfDir).collect()
    assert(m1a.map(_.toSeq).toSeq === m1b.map(_.toSeq).toSeq, "deterministic across runs")
    val nBytes = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text").cast("binary")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1a.exists(!_.getAs[Boolean]("is_png")), "corrupt branch exercised")
    m1a.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 17 == 0) { // headerless: raw text bytes, no dims
        assert(!r.getAs[Boolean]("is_png"))
        assert(r.getAs[Long]("n_bytes") === nBytes(id).toLong)
        assert(r.isNullAt(r.fieldIndex("width")) && r.isNullAt(r.fieldIndex("height")))
      } else { // planted 26-byte PNG header + payload
        assert(r.getAs[Boolean]("is_png"))
        assert(r.getAs[Long]("n_bytes") === nBytes(id).toLong + 26L)
        assert(r.getAs[Long]("width") === 100L + id % 1900)
        assert(r.getAs[Long]("height") === 100L + id % 1000)
        assert(r.getAs[Long]("bit_depth") === 8L)
      }
    }
  }

  test("d14 IVF-candidate edges ≡ d5's exact all-pairs cos ≥ 0.45 set (100% recall)") {
    val exact = DedupQueries.queries("d5_embedding_dup")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val ivf = DedupQueries.queries("d14_semantic_edges_ivf")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(ivf === exact, "IVF-candidate + exact-verify must equal the exact pair set")
    assert(exact.nonEmpty, "fixture has planted semantic near-dups")
  }

  test("seedless corpus: the EDGE path covers all pairs (batch = stream hatch); the serving index stays spec-shaped") {
    import org.apache.spark.sql.functions.col
    // a corpus with NO vec_id % 50 == 1 fine seed previously gave the
    // batch edge path an EMPTY candidate set — zero semantic recall
    // against d14's exact-pair-set oracle — while the streaming twin
    // degenerated to one bucket. The hatch lives in d14Candidates
    // (whose contract is RECALL); cellRanks stays the seeded SPEC the
    // x-family oracles replay verbatim, so it is legitimately empty.
    import SparkTestBase.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_seedless").toString
    val rnd = new scala.util.Random(7)
    val ids = Seq(-220L, -110L, -20L, 0L, 5L, 7L, 9L, 20L, 50L, 90L)
    ids.map(id => (id, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 50 === 1).isEmpty, "fixture must be seedless")
    assert(graft.queries.DedupQueries.cellRanks(spark, dir).isEmpty,
      "the serving cell index must stay the seeded spec (empty here)")
    val cands = graft.queries.DedupQueries.d14Candidates(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = ids.length
    assert(cands.size === n * (n - 1) / 2,
      s"seedless edge candidates must cover all pairs: ${cands.size}")
    graft.queries.Caches.release(spark, dir)
  }

  test("d18 incremental dedup classifies the batch consistently with its parts") {
    // internal consistency on the gate fixture: every batch doc appears
    // exactly once; exact rows really are text-equal to their match;
    // near rows carry a corpus match at J >= 0.8; novel rows carry none
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sfDir)
    val out = DedupQueries.queries("d18_incremental_dedup")(spark, sfDir)
    assert(out.count() === docs.filter(col("doc_id") % 10 === 0).count())
    val texts = docs.select(col("doc_id").as("k"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.collect().foreach { r =>
      val (id, status) = (r.getLong(0), r.getString(1))
      status match {
        case "exact" =>
          assert(texts(id) === texts(r.getLong(2)), s"doc $id: exact match text differs")
          assert(r.getDouble(3) === 1.0)
        case "near" =>
          assert(r.getLong(2) % 10 !== 0, s"doc $id: match must come from the corpus split")
          assert(r.getDouble(3) >= 0.8)
        case "novel" =>
          assert(r.isNullAt(2) && r.isNullAt(3))
      }
    }
    assert(out.filter(col("status") =!= "novel").count() > 0,
      "fixture plants batch-corpus duplicates")
  }

  test("d16 cross-split recall floor at sf0.1 (missed contamination is the costly direction)") {
    // d14's hash gate proves 100% recall at the gate fixtures; at sf0.1
    // the two-level probe cover reaches a fraction of the fine cells,
    // so the contamination pass needs its own measured floor.
    val dir = "/root/testdata/sf0.1"
    import org.apache.spark.sql.functions.{col, least, greatest}
    val exact = DedupQueries.queries("d5_embedding_dup")(spark, dir)
      .filter((col("id1") % 20 === 0) =!= (col("id2") % 20 === 0))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DedupQueries.queries("d16_semantic_decontaminate")(spark, dir)
      .select(least(col("train_vec"), col("benchmark_vec")).as("a"),
        greatest(col("train_vec"), col("benchmark_vec")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "sf0.1 fixture has cross-split near-dups")
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(f"d16 cross-split recall at sf0.1: $recall%.3f (${got.intersect(exact).size}/${exact.size})")
    // measured 0.700 (7/10) with the two-level quantizer (cp =
    // 1+⌈24/g⌉ coarse groups, 8-wide fine probes) — deterministic; the
    // floor sits just under it so a probe-width or centroid regression
    // trips the gate while fixture tweaks get a little slack
    assert(recall >= 0.65, f"cross-split recall $recall%.3f under floor")
  }

  test("dedup suite tolerates sub-3-word documents (no shingles ⇒ no near-dup claims)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a corpus shape the fixtures never produce but any real crawl
    // does: empty and 1-2-word docs alongside normal text (the single
    // NULL shingle GraftShingles emits for them used to NPE the band/
    // signature kernels, and a constant-0 simhash paired every short
    // doc with every other)
    val dir = java.nio.file.Files.createTempDirectory("graft_short_docs").toString
    Seq(
      (1L, "hi", "s1", "en", 2L),
      (2L, "alpha beta gamma delta epsilon common words here", "s1", "en", 48L),
      (3L, "one two", "s1", "en", 7L),
      (4L, "alpha beta gamma delta epsilon common words here", "s1", "en", 48L),
      (5L, "", "s1", "en", 0L),
      (6L, null, "s2", "en", 0L), // null text: the crawl-corpus reality
      (10L, "yo", "s1", "en", 2L),
      (20L, "alpha beta gamma delta epsilon common words here", "s1", "en", 48L),
      (30L, "completely different prose with enough words to shingle", "s1", "en", 56L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(q: String) = DedupQueries.queries(q)(spark, dir)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup machinery only ever pairs docs with real shingles
    assert(pairs("d2_minhash_lsh") === Set((2L, 4L), (2L, 20L), (4L, 20L)))
    assert(pairs("d4_simhash") === Set((2L, 4L), (2L, 20L), (4L, 20L)))
    assert(pairs("d3_ngram_jaccard") === Set((2L, 4L), (2L, 20L), (4L, 20L)))
    // d18: short arrival 10 classifies novel (no crash, no false near),
    // 20 matches its exact corpus twin, 30 is novel
    val d18 = DedupQueries.queries("d18_incremental_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(d18 === Map(10L -> (("novel", -1L)), 20L -> (("exact", 2L)),
      30L -> (("novel", -1L))))
    // the rest of the document surface degrades instead of crashing:
    // null media decodes as the corrupt branch, CDC chunks to nothing,
    // quality ratios go NULL on zero-length denominators
    val m1 = graft.queries.MultimodalQueries.queries("m1_media_meta")(spark, dir)
      .filter(col("doc_id") === 6L).collect()
    assert(m1.length == 1 && !m1.head.getAs[Boolean]("is_png"))
    assert(graft.queries.DedupQueries.queries("d21_cdc_chunks")(spark, dir)
      .filter(col("doc_id") === 6L).count() === 0)
    val t2 = graft.queries.TextQueries.queries("t2_quality_score")(spark, dir)
      .filter(col("doc_id") === 5L).collect().head
    assert(t2.isNullAt(t2.fieldIndex("punct_ratio")))
    graft.queries.Caches.release(spark, dir)
  }

  test("d32 label forget: deleting a bridge doc splits its cluster; isolated docs leave") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d32").toString
    // chain fixture: X1≈X2 ≈ bridge Y ≈ Z1≈Z2, but X*–Z* below the 0.8
    // threshold (staggered 38-word windows over one vocabulary: J(X,Y)
    // = 33/39 ≈ 0.85, J(X,Z) = 30/42 ≈ 0.71). Deleting the bridge
    // (id 8: % 7 == 1, % 10 != 0) must split the 5-doc cluster in two.
    val w = (0 until 44).map("w%02d".format(_))
    def span(a: Int): String = w.slice(a, a + 38).mkString(" ")
    val x1 = span(0)
    val x2 = ("q00" +: w.slice(1, 38)).mkString(" ") // first word differs
    val y = span(3)
    val z1 = span(6)
    val z2 = (w.slice(6, 43) :+ "q99").mkString(" ") // last word differs
    Seq((2L, x1), (3L, x2), (8L, y), (4L, z1), (5L, z2),
        (30L, (0 until 30).map("u%02d".format(_)).mkString(" "))) // unrelated
      .map { case (i, t) => (i, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // precondition: one cluster holds all five chained docs
    val before = graft.queries.DedupQueries.queries("d9_dup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before === Map(2L -> 2L, 3L -> 2L, 8L -> 2L, 4L -> 2L, 5L -> 2L),
      s"fixture must chain into ONE cluster via the bridge, got $before")
    val after = SparkEntry.queries("d32_label_forget")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === Map(2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 4L),
      s"forgetting the bridge must split the cluster in two, got $after")
    graft.queries.Caches.release(spark, dir)
  }

  test("d33 winnow pairs: a 30-char shared span is guaranteed found; strangers are not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d33").toString
    val span = "SHARED-SPAN-OF-THIRTY-CHARS-XY" // 30 >= K+W-1 = 27: the MOSS guarantee
    Seq(
      (1L, s"left-padding-aaaaaaaa $span right-padding-bbbbbbbb"),
      (2L, s"different head entirely $span and a different tail too"),
      (3L, "nothing in common with anybody here at all, forty chars plus"))
      .map { case (i, t) => (i, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d33_winnow_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) >= 1L,
      s"the >= 27-char shared span must surface a verified pair: $out")
    assert(out.keySet === Set((1L, 2L)),
      s"no pair may involve the unrelated doc: $out")
    graft.queries.Caches.release(spark, dir)
  }

  test("d34 winnow admission: arrival sharing a span matches its corpus partner; novel passes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d34").toString
    val span = "SHARED-SPAN-OF-THIRTY-CHARS-XY"
    Seq(
      (1L, s"corpus-doc-head-aaaa $span corpus-doc-tail-bbbb"),   // corpus
      (2L, "a corpus document sharing nothing with any arrival"),  // corpus
      (10L, s"arrival head completely new $span arrival tail new"), // arrival: dup
      (20L, "an arrival with entirely novel content throughout"))   // arrival: novel
      .map { case (i, t) => (i, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d34_winnow_admission")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out(10L) === ((true, 1L, 1L)),
      s"the span-sharing arrival must match corpus doc 1: ${out(10L)}")
    assert(out(20L) === ((false, 0L, -1L)),
      s"the novel arrival must pass unmatched: ${out(20L)}")
    assert(out.keySet === Set(10L, 20L), "only arrivals appear in the verdict")
    graft.queries.Caches.release(spark, dir)
  }

  test("d31 containment: pruning ≡ exhaustive recompute; the planted quote evades d3") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d31").toString
    val big = ("w%02d".format(0) +: (1 until 40).map("w%02d".format(_))).mkString(" ")
    val quote = (10 until 22).map("w%02d".format(_)).mkString(" ") // 12-word span of big
    val half = ((12 until 18).map("w%02d".format(_)) ++
      (0 until 6).map("q%02d".format(_))).mkString(" ") // ~half shared
    val other = (0 until 30).map("z%02d".format(_)).mkString(" ")
    val fixture = Seq(
      (1L, big, "src0"), (2L, quote, "src0"), (3L, half, "src0"), (4L, other, "src0"))
    fixture
      .map { case (i, t, src) => (i, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d31_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exhaustive reference: distinct word-3-gram sets, all oriented pairs
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString("_")).toSet
    val sh = fixture.map { case (i, t, _) => i -> shingles(t) }.toMap
    val exhaustive = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if sa.size < sb.size || (sa.size == sb.size && a < b)
      c = (sa intersect sb).size.toDouble / sa.size
      if c >= 0.9
    } yield (a, b, math.rint(c * 10000) / 10000)).toSet
    assert(out === exhaustive, s"pruned plan diverges from exhaustive: $out vs $exhaustive")
    assert(out.exists(p => p._1 === 2L && p._2 === 1L && p._3 === 1.0),
      s"the planted full quote must be found at containment 1.0: $out")
    assert(!out.exists(p => p._1 === 3L), "the half-overlap doc must stay below 0.9")
    // the same quote is invisible to symmetric Jaccard at d3's threshold
    val d3 = SparkEntry.queries("d3_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!d3.contains((1L, 2L)) && !d3.contains((2L, 1L)),
      "fixture broken: the quote pair must be below symmetric-Jaccard reach")
    graft.queries.Caches.release(spark, dir)
  }

  test("d31 prefix bound is integer-exact on sz-multiple-of-10 docs (r13 regression)") {
    import spark.implicits._
    // The r13 bug: prefix length computed as floor((1-0.9)*sz)+1 in
    // doubles — one token SHORT whenever 0.9*sz is an integer (0.1 has
    // no exact binary form, so (1-0.9)*10 = 0.9999... floors to 0).
    // Planted pair that hinges on EXACTLY the last prefix token:
    //  - A = [x, w00..w10]: 12 words -> 10 distinct 3-gram shingles,
    //    sz = 10, so ceil(0.9*10) = 9 and the lossless prefix length
    //    is 10 - 9 + 1 = 2 (the buggy formula gave 1).
    //  - A's only non-shared shingle (x,w00,w01) has df = 1 -> it is
    //    the RAREST and fills prefix slot 1; every shared shingle has
    //    df = 2 and the first of them sits in slot 2. With a 1-token
    //    prefix the pair generates NO candidate; with 2 it must.
    //  - containment = 9/10 = 0.9, exactly at the threshold.
    val dir = java.nio.file.Files.createTempDirectory("graft_d31_reg").toString
    val big = (0 until 30).map("w%02d".format(_)).mkString(" ")
    val a = ("xx" +: (0 to 10).map("w%02d".format(_))).mkString(" ")
    Seq((1L, a, "src0"), (2L, big, "src0"))
      .map { case (i, t, src) => (i, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // fixture sanity: A really has 10 shingles, exactly one unique
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString("_")).toSet
    val (sa, sb) = (shingles(a), shingles(big))
    assert(sa.size === 10 && (sa diff sb).size === 1,
      s"fixture broken: need sz=10 with one unique shingle, got ${sa.size}/${(sa diff sb).size}")
    val out = SparkEntry.queries("d31_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out === Set((1L, 2L, 0.9)),
      s"the threshold-exact pair must survive the prefix filter: $out")
    graft.queries.Caches.release(spark, dir)
  }

  test("d30 chunk-dedup accounting: duplicated chunks stored once, identities hold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d30").toString
    val para = "the quick brown fox jumps over the lazy dog while the pipeline " +
      "streams rows into the lake and every batch lands on an idle core"
    Seq(
      (1L, para, "dup", "en"),
      (2L, para, "dup", "en"),          // byte-identical: chunks fully shared
      (3L, "entirely different words that share no chunk with the paragraph " +
        "because every character run is distinct here", "uniq", "en"))
      .map { case (i, t, src, l) => (i, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d30_chunk_dedup")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (nC, raw, nU, uniqB, bp) = out("dup")
    // identical twins: every chunk appears exactly twice, stored once
    assert(nC === 2 * nU && raw === 2 * uniqB,
      s"identical docs must dedupe 2:1, got $out")
    assert(raw === 2L * para.length, "raw bytes must equal total text length")
    assert(bp === 10000L * uniqB / raw)
    val u = out("uniq")
    assert(u._1 === u._3 && u._2 === u._4 && u._5 === 10000L,
      s"unique source must store everything, got $u")
    graft.queries.Caches.release(spark, dir)
  }

  test("d23 recovers a planted shared paragraph as one maximal span") {
    import spark.implicits._
    // two docs share exactly one 150-char paragraph; every other char
    // differs (distinct filler alphabets, and the chars flanking the
    // plant differ on both sides so the span cannot extend past it).
    // A third doc shares nothing 60 chars long with anyone.
    val para = ("the quick brown fox jumps over the lazy dog again and again " +
      "while the market data pipeline keeps streaming rows into the lake " +
      "and the scheduler assigns every batch to an idle core promptly")
      .take(150)
    assert(para.length == 150)
    val docA = "aaaa bbbb cccc dddd eeee ffff gggg hhhh X" + para + "Y iiii jjjj kkkk"
    val docB = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss Q" + para + "R rrrr qqqq pppp"
    val docC = "mmmm nnnn oooo " * 20
    val dir = java.nio.file.Files.createTempDirectory("graft_planted").toString
    Seq((1L, docA, "s1", "en", docA.length.toLong),
        (2L, docB, "s1", "en", docB.length.toLong),
        (3L, docC, "s2", "en", docC.length.toLong))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupQueries.queries("d23_shared_substrings")(spark, dir).collect()
    assert(rows.length == 1, s"expected exactly the planted pair, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 1L, s"expected 1 maximal span, got $r") // n_spans
    assert(r.getLong(3) == 150L, s"expected 150 shared chars, got $r") // shared_chars
    assert(r.getLong(4) == 150L, s"expected max span 150, got $r")
    assert(math.abs(r.getDouble(5) - 150.0 / docA.length) < 5e-4, s"coverage: $r")
    graft.queries.Caches.release(spark, dir)
  }

  test("d25 excises the planted paragraph from the higher-id doc, byte-exact") {
    import spark.implicits._
    val para = ("the quick brown fox jumps over the lazy dog again and again " +
      "while the market data pipeline keeps streaming rows into the lake " +
      "and the scheduler assigns every batch to an idle core promptly")
      .take(150)
    val docA = "aaaa bbbb cccc dddd eeee ffff gggg hhhh X" + para + "Y iiii jjjj kkkk"
    val docB = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss Q" + para + "R rrrr qqqq pppp"
    val docC = "mmmm nnnn oooo " * 20
    val dir = java.nio.file.Files.createTempDirectory("graft_excise").toString
    Seq((1L, docA, "s1", "en", docA.length.toLong),
        (2L, docB, "s1", "en", docB.length.toLong),
        (3L, docC, "s2", "en", docC.length.toLong))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupQueries.queries("d25_excise_spans")(spark, dir).collect()
    // only doc 2 (the higher id of the planted pair) is rewritten; the
    // kept doc 1 and the unrelated doc 3 are untouched
    assert(rows.length == 1 && rows.head.getLong(0) == 2L, s"got ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(2) == 1L, s"n_cuts: $r")
    assert(r.getLong(3) == 150L, s"removed_chars: $r")
    assert(r.getLong(4) == docB.length - 150L, s"clean_len: $r")
    val expected = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss Q" + "R rrrr qqqq pppp"
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(expected.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(r.getString(5) == want, s"clean_md5 mismatch: $r (want $want)")
    graft.queries.Caches.release(spark, dir)
  }

  test("d26 admits novel arrivals and rejects one planted mostly-duplicate arrival") {
    import spark.implicits._
    val para = ("the quick brown fox jumps over the lazy dog again and again " +
      "while the market data pipeline keeps streaming rows into the lake " +
      "and the scheduler assigns every batch to an idle core promptly")
      .take(150)
    // corpus: docs 1 (holds the paragraph) and 2 (unrelated); batch:
    // doc 10 is ~72% the corpus paragraph (reject), doc 20 is novel
    val doc1 = "aaaa bbbb cccc dddd eeee ffff gggg hhhh X" + para + "Y iiii jjjj kkkk"
    val doc2 = "mmmm nnnn oooo pppp " * 8
    val doc10 = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss Q" + para + "R rrrr qqqq pppp"
    val doc20 = "totally fresh content with its own words never seen before " * 4
    SparkTestBase.withTempDir("graft_admission") { dir =>
      Seq((1L, doc1), (2L, doc2), (10L, doc10), (20L, doc20))
        .map { case (id, t) => (id, t, "s1", "en", t.length.toLong) }
        .toDF("doc_id", "text", "source", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = DedupQueries.queries("d26_substring_admission")(spark, dir)
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(rows.keySet == Set(10L, 20L), s"got ${rows.keySet}")
      val dup = rows(10L)
      assert(dup.getLong(1) == 1L, s"n_partners: $dup")
      assert(dup.getLong(2) == 1L, s"best_match: $dup")
      assert(dup.getLong(4) == 150L, s"dup_chars: $dup")
      assert(!dup.getBoolean(6), s"72%-duplicate arrival must be rejected: $dup")
      val novel = rows(20L)
      assert(novel.getLong(1) == 0L && novel.isNullAt(2) && novel.getLong(4) == 0L
        && novel.getBoolean(6), s"novel arrival must be admitted: $novel")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("property: cdcChunks equals cdcSpans plus a digest of the sliced chunk") {
    import org.scalacheck.{Gen, Prop}
    import graft.functions.Hashing
    // the one-pass chunk+digest (added when the mojibake sweep showed
    // slicing chunks back out of the column is quadratic) must agree
    // with the original two-step form on arbitrary text, incl. the
    // degenerate constant-character shape that cuts densely
    val gen = for {
      n <- Gen.choose(0, 400)
      s <- Gen.oneOf(
        Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
          Gen.choose('Ѐ', 'ӿ'))),
        Gen.const("a" * n))
    } yield s
    PropCheck.check(Prop.forAll(gen) { s =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var off = 0
      val want = Hashing.cdcSpans(s).map { case (_, ln) =>
        val chunk = s.substring(off, off + ln) // BMP gen: cp == char
        off += ln
        (ln.toLong, md.digest(chunk.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString)
      }
      off == s.length && Hashing.cdcChunks(s) == want
    })
  }

  test("property: rolling gram hashes equal the per-position refold") {
    import org.scalacheck.{Gen, Prop}
    import graft.functions.Hashing
    def refold(s: String, i: Int, k: Int): Long = {
      var h = 0L
      for (j <- i until i + k) h = (h * 131L + s.charAt(j)) % 2147483647L
      h
    }
    val gen = for {
      n <- Gen.choose(0, 200)
      s <- Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
        Gen.choose('Ѐ', 'ӿ'))) // incl. non-ASCII BMP units
      k <- Gen.choose(1, 70)
    } yield (s, k)
    PropCheck.check(Prop.forAll(gen) { case (s, k) =>
      val rolled = Hashing.gramHashes(s, k)
      val want = if (s.length < k) Array.empty[Long]
        else Array.tabulate(s.length - k + 1)(i => refold(s, i, k))
      rolled.sameElements(want)
    })
  }

  test("property: CDC chunking is insertion-local, fixed blocks are not") {
    import org.scalacheck.{Gen, Prop}
    import graft.functions.Hashing
    def chunkHashes(s: String): Seq[String] =
      Hashing.cdcSpans(s).map { case (st, ln) =>
        s.substring(st - 1, st - 1 + ln).hashCode.toString }
    def fixedHashes(s: String): Seq[String] =
      s.grouped(64).map(_.hashCode.toString).toSeq
    def multisetDiff(a: Seq[String], b: Seq[String]): Int = {
      val ca = a.groupBy(identity).view.mapValues(_.size)
      val cb = b.groupBy(identity).view.mapValues(_.size)
      (ca.keySet ++ cb.keySet).toSeq
        .map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0))).sum
    }
    val textGen = Gen.listOfN(3000, Gen.oneOf("abcdefgh ".toSeq)).map(_.mkString)
    graft.PropCheck.check(Prop.forAll(textGen, Gen.chooseNum(0, 200)) { (s, pos) =>
      val edited = s.substring(0, pos) + "X" + s.substring(pos)
      val (a, b) = (chunkHashes(s), chunkHashes(edited))
      // spans cover the text exactly in both versions
      val covers = Hashing.cdcSpans(edited).map(_._2).sum == edited.length
      // the edit may redraw the chunks around position `pos` (and, with
      // ~1/64 hash probability, merge/split a neighbor) but chunks
      // beyond the affected window are bit-identical — while fixed-size
      // blocks shift and rewrite everything after the edit
      val cdcLocal = multisetDiff(a, b) <= 8
      val fixedGlobal = multisetDiff(fixedHashes(s), fixedHashes(edited)) >=
        (s.length - pos) / 64 - 2
      covers && cdcLocal && fixedGlobal
    }, minSuccessful = 100)
  }

  test("d22 orientation bounds wedge fan-out under hub skew") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 1000-leaf star: every edge orients leaf→hub (degree 1 < 1000),
    // so the wedge stage emits NOTHING where naive mid-vertex wedge
    // generation would build C(1000,2) = 499,500 pairs at the hub —
    // the bound that keeps d22 alive on a skewed million-edge graph.
    val star = (1 to 1000).map(i => (0L, i.toLong)).toDF("doc1", "doc2")
    assert(DedupQueries.orientedWedges(star).count() === 0L)
    assert(DedupQueries.triangleCounts(star)
      .filter(col("n_tri") =!= 0L).count() === 0L)
    // 10-clique: every wedge closes — 120 wedges, 120 triangles, each
    // vertex in C(9,2) = 36 with closure exactly 10000 bp.
    val k10 = (for { a <- 0 until 10; b <- a + 1 until 10 }
      yield (a.toLong, b.toLong)).toDF("doc1", "doc2")
    assert(DedupQueries.orientedWedges(k10).count() === 120L)
    val t = DedupQueries.triangleCounts(k10).collect()
    assert(t.length === 10)
    assert(t.forall(r => r.getAs[Long]("n_tri") === 36L &&
      r.getAs[Long]("closure_bp") === 10000L))
  }

  test("IVF-family plans carry no cartesian or nested-loop join") {
    // x1 (brute) and x2's oracle-parity formulations are the declared
    // exact baselines; every SERVING path must be join-shape clean.
    for (q <- Seq("d14_semantic_edges_ivf", "d13_semantic_clusters",
        "x3_ann_ivf", "x9_ivf_pq", "x11_ivf_pq_rerank", "x12_ann_filtered",
        "x13_knn_graph", "d18_incremental_dedup", "x16_trained_ivf",
        // d22's wedge join and closing probe must both be equi-joins —
        // a cartesian here would be quadratic in the dup graph's edges
        "d22_triangles",
        // x17's sparse-propose/dense-rescore stack must stay on the
        // postings and id equi-joins — an all-pairs node here defeats
        // the reason hybrid retrieval scales
        "x17_hybrid_rrf",
        // x18's append pass is map-side assignment + one small
        // broadcastable code join — any all-pairs node would mean the
        // delta path rescans the history
        "x18_ivf_append",
        // x19 serves from the LANDED artifact: scan + id equi-joins +
        // the cell equi-join — the pure-relational serve plan is the
        // whole point of persisting the index
        "x19_persisted_ivf",
        // x22 is the same contract over the TRAINED index family:
        // training happens once at landing time, the serve plan is
        // x19's pure-relational scan + equi-joins
        "x22_trained_persisted",
        // x24 unions the landed-old artifact with the frozen-centroid
        // delta assignment; serve must stay scan + equi-joins
        "x24_trained_append",
        // d28's affected-subgraph carve-out is semi/anti-joins on
        // labels; a cartesian here would rescan the whole graph
        "d28_incremental_cc",
        // d29 serves the same carve-out from the LANDED label store —
        // the same contract, with the store scan in place of the
        // inline old-side fixpoint
        "d29_landed_labels",
        // d23's propose/verify/merge must stay on the 8-byte hash
        // equi-join and id rejoins — an all-pairs node here is the
        // quadratic blowup the gram hashing exists to avoid
        "d23_shared_substrings",
        // d25's excision is runs → per-doc windows → id equi-joins for
        // the splice — same contract as its d23 front
        "d25_excise_spans",
        // d26 serves from the landed gram index: scan + hash equi-join
        // + id rejoins — an all-pairs node would mean the admission
        // check re-derives the corpus
        "d26_substring_admission")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop join:\n$plan")
    }
  }

  test("d24/d26 landed indexes scan as bucketed tables aligned with their serve join") {
    import org.apache.spark.sql.functions._
    // d24's classify plan reads the landed band table directly
    val d24Plan = SparkEntry.queries("d24_persisted_band_index")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(d24Plan.contains("Bucketed: true"),
      s"d24's landed band index does not scan bucketed:\n$d24Plan")
    // d26's serve join runs inside an eager checkpoint, so pin the
    // layout contract on the landed table itself: an equi-join on the
    // bucket key must consume the bucketed distribution — the index
    // side carries NO Exchange (only the probe side shuffles)
    val idx = spark.table(
      graft.queries.DedupQueries.d26LandingFor(spark, sfDir))
    val probe = spark.range(0, 1000)
      .select((col("id") * 2654435761L).as("h"), col("id").as("p"))
      .repartition(8)
    val served = idx.join(probe.hint("merge"), Seq("h"))
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"d26's landed gram index does not scan bucketed:\n$plan")
    // one join, two sides: the probe may shuffle to the bucket count,
    // the bucketed index side must not — so at most ONE hash exchange
    // in the final plan (AQE's stringification appends the pre-AQE
    // "Initial Plan" copy; cut it off before counting)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges <= 1,
      s"d26's landed index side re-shuffles despite bucketing ($exchanges exchanges):\n$plan")
    // every landed token table — bases, deltas, compactions of the
    // band, gram and winnow families — carries its serve key's bucket
    // spec in the catalog
    val catalog = spark.sessionState.catalog
    for ((tbl, key) <- Seq(
        DedupQueries.bandLandingFor(spark, sfDir) -> "key",
        DedupQueries.e20DeltaLandingFor(spark, sfDir) -> "key",
        DedupQueries.e26CompactFor(spark, sfDir) -> "key",
        DedupQueries.d26LandingFor(spark, sfDir) -> "h",
        DedupQueries.e22DeltaFor(spark, sfDir)._1 -> "h",
        DedupQueries.e23CompactFor(spark, sfDir) -> "h",
        DedupQueries.d34LandingFor(spark, sfDir) -> "fp_h",
        DedupQueries.e27DeltaFor(spark, sfDir)._1 -> "fp_h",
        DedupQueries.e29CompactFor(spark, sfDir) -> "fp_h")) {
      val spec = catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
      assert(spec.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames)) ===
        Some((32, Seq(key), Seq(key))), s"$tbl is not bucketed by $key")
    }
  }

  test("d27 split is cluster-consistent; the naive per-doc split provably leaks") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    val clusters = SparkEntry.queries("d9_dup_clusters")(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val labeled = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    // the invariant the operator exists for: no dup cluster spans splits
    val spanning = DedupQueries.d27Split(labeled)
      .groupBy("cluster_id").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    assert(spanning == 0L, s"$spanning clusters span train/val/test")
    // and the baseline it guards against: hashing per DOC (t24's idiom
    // applied naively) splits at least one planted dup cluster
    val naiveLeaks = DedupQueries.d27Split(labeled, keyCol = "doc_id")
      .groupBy("cluster_id").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    assert(naiveLeaks > 0L,
      "fixture has multi-doc dup clusters, so per-doc hashing must leak — " +
        "if this fails the invariant test above is vacuous")
    graft.queries.Caches.release(spark, sfDir)
  }

  test("e20 admitted wave-1 docs catch wave-2 duplicates; refused dups never land; base untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e20").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val b = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val bNear = b.replace(" twenty", " twentyone") // near-dup of b (shared prefix shingles)
    val c = "red orange yellow green blue indigo violet cyan magenta white " +
      "black brown grey silver gold bronze copper iron steel tin"
    Seq(
      (1L, a, "en", "src0"),      // corpus
      (20L, b, "en", "src0"),     // wave 1: novel → ADMITTED
      (40L, a, "en", "src0"),     // wave 1: exact dup of corpus → refused
      (60L, "zz qq", "en", "src0"), // wave 1: novel but TOO SHORT to shingle
      (30L, b, "en", "src0"),     // wave 2: exact dup of ADMITTED 20
      (70L, bNear, "en", "src0"), // wave 2: near-dup of ADMITTED 20
      (90L, "zz qq", "en", "src0"), // wave 2: exact dup of the SHORT admitted 60
      (50L, c, "en", "src0"))     // wave 2: novel
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    // snapshot the BASE index files: the append must never rewrite them
    DedupQueries.bandLandingFor(spark, dir) // materialize the base landing
    val baseDir = new java.io.File(graft.queries.Caches.landingPath(dir, "d24"))
    assert(baseDir.isDirectory, s"base landing dir missing: $baseDir")
    def snap(d: java.io.File): Map[String, Long] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = snap(baseDir)
    // only the truly novel wave-1 doc lands in the delta
    val delta = spark.table(DedupQueries.e20DeltaLandingFor(spark, dir))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(delta === Set(20L, 60L),
      s"delta must hold exactly the admitted wave-1 docs (incl. the " +
        s"shingle-less one via its sentinel row), got $delta")
    assert(snap(baseDir) === before, "the base d24 landing was rewritten by the append")
    val out = SparkEntry.queries("e20_admit_and_append")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(out(30L) === (("exact", Some(20L))),
      s"wave-2 exact dup of the admitted doc missed: ${out(30L)}")
    assert(out(70L)._1 === "near" && out(70L)._2 === Some(20L),
      s"wave-2 near dup of the admitted doc missed: ${out(70L)}")
    // the admitted doc too short to shingle still widens the exact
    // axis — its wave-2 byte-identical twin must NOT read novel
    assert(out(90L) === (("exact", Some(60L))),
      s"wave-2 exact dup of the SHORT admitted doc missed: ${out(90L)}")
    assert(out(50L)._1 === "novel")

    // e26: compaction must hold exactly base ∪ delta (sentinels
    // included) and serve wave 2 identically to the lambda layout
    val compacted = spark.table(DedupQueries.e26CompactFor(spark, dir))
    val lambdaRows = spark.table(DedupQueries.bandLandingFor(spark, dir))
      .select("doc_id", "band", "key")
      .unionByName(spark.table(DedupQueries.e20DeltaLandingFor(spark, dir))
        .select("doc_id", "band", "key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val compRows = compacted.select("doc_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(compRows === lambdaRows,
      "compacted band table must equal base ∪ delta row-for-row")
    assert(compRows.exists(_._2 === -1),
      "the shingle-less admit's sentinel row must survive compaction")
    val outC = SparkEntry.queries("e26_band_compact")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    val outL = out
    assert(outC === outL,
      s"compacted serve must equal the lambda serve: $outC vs $outL")
    graft.queries.Caches.release(spark, dir)
  }

  test("e22 gram append: delta serves, newly-hot gram tombstones, base files untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e22").toString
    // two 60-char blocks with no shared 60-window; per-doc fillers are
    // tag-stamped so no two docs share any 60-gram outside G/G2
    val G = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz01234567".take(60)
    val G2 = "ZYXWVUTSRQPONMLKJIHGFEDCBAzyxwvutsrqponmlkjihgfedcba76543210".take(60)
    def u(tag: Int, n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < n) { sb.append(s"<f$tag>").append(i); i += 1 }
      sb.substring(0, n)
    }
    // corpus: G in 60 docs (df 60 ≤ 64 → in the base index), G2 in 2
    val corpus =
      (0 until 60).map(i => (1L + 10 * i, G + u(i, 20))) ++
        Seq((601L, G2 + u(700, 20)), (611L, G2 + u(701, 20)))
    // wave 1 (id 20): G ×10 pushes combined df(G) to 70 > 64 (newly
    // hot), G2 ×1 stays cold; enough unique filler to be admitted
    // (dup 660 · 2 < len 1560)
    val w1 = (0 until 10).map(k => u(2000 + k, 80) + G).mkString +
      u(2100, 80) + G2 + u(2101, 20)
    // wave 2: doc 10 = G + filler (tombstoned gram must NOT match),
    // doc 30 = G2 + filler (base AND delta partners must match). The
    // '#'/'%' stamps right after the block kill boundary-window
    // matches (every index doc follows G/G2 with '<'), so the only
    // candidate either doc can have is its exact leading block.
    val rows = corpus ++ Seq((20L, w1), (10L, G + "#" + u(3000, 39)),
      (30L, G2 + "%" + u(3001, 139)))
    rows.map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    // materialize the base index, snapshot its files
    DedupQueries.d26LandingFor(spark, dir)
    val baseDir = new java.io.File(graft.queries.Caches.landingPath(dir, "d26"))
    assert(baseDir.isDirectory, s"base landing dir missing: $baseDir")
    def snap(d: java.io.File): Map[String, Long] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = snap(baseDir)
    val (deltaTbl, tombPath) = DedupQueries.e22DeltaFor(spark, dir)
    val hOf = (s: String) => spark.range(1)
      .select(explode(graft.plans.GraftGramHashes.column(lit(s), 60)).as("h"))
      .collect().map(_.getLong(0)).toSet
    val (hG, hG2) = (hOf(G).head, hOf(G2).head)
    // newly-hot grams tombstone: G itself (60 base + 10 delta = 70)
    // and the two G-suffix boundary windows every index doc shares
    // (all corpus fillers and all wave-1 post-G fillers open "<f",
    // so G[1:]+"<" and G[2:]+"<f" also cross the cap at 70); the
    // 3-char-prefix windows split by tag digit and stay cold
    val tombs = spark.read.schema("h BIGINT").parquet(tombPath)
      .collect().map(_.getLong(0)).toSet
    val expTombs = Set(hG, hOf(G.substring(1) + "<").head,
      hOf(G.substring(2) + "<f").head)
    assert(tombs === expTombs,
      s"tombstones must be the three 70-df windows, got ${tombs.size} rows")
    val delta = spark.table(deltaTbl)
    assert(delta.select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(20L))
    val deltaH = delta.select("h").collect().map(_.getLong(0)).toSet
    assert(deltaH.contains(hG2), "cold gram G2 must land in the delta")
    assert(!deltaH.contains(hG), "newly-hot gram G must not land in the delta")
    assert(snap(baseDir) === before, "the base d26 landing was rewritten by the append")
    val out = SparkEntry.queries("e22_gram_append")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getLong(4), r.getBoolean(6)))).toMap
    // doc 10 carries only the tombstoned gram: zero partners, admitted
    assert(out(10L) === ((0L, None, 0L, true)),
      s"tombstoned gram must not produce matches: ${out(10L)}")
    // doc 30's G2 hits both base partners AND the admitted wave-1 doc;
    // best_match = smallest partner id at equal shared = the delta doc
    assert(out(30L) === ((3L, Some(20L), 60L, true)),
      s"delta partner missing from the combined index: ${out(30L)}")
    // e23: compaction must hold exactly the served lambda content —
    // (base ∖ tombstones) ∪ delta — and serving from it alone must
    // reproduce the lambda serve row-for-row
    val compacted = spark.table(DedupQueries.e23CompactFor(spark, dir))
      .select("doc_id", "i0", "h").collect().map(_.toSeq).toSet
    val lambda = spark.table(DedupQueries.d26LandingFor(spark, dir))
      .join(broadcast(spark.read.schema("h BIGINT").parquet(tombPath)),
        Seq("h"), "left_anti")
      .unionByName(spark.table(deltaTbl))
      .select("doc_id", "i0", "h").collect().map(_.toSeq).toSet
    assert(compacted === lambda, "compacted content diverges from the lambda index")
    val outC = SparkEntry.queries("e23_gram_compact")(spark, dir)
      .collect().map(_.toSeq)
    val outL = SparkEntry.queries("e22_gram_append")(spark, dir)
      .collect().map(_.toSeq)
    assert(outC.sameElements(outL), "compacted serve diverges from the lambda serve")
    graft.queries.Caches.release(spark, dir)
  }

  test("e27/e28/e29 winnow lifecycle: delta serves, newly-hot tombstones, " +
      "cap-then-delete forget, compaction ≡ lambda") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e27").toString
    def u(tag: Int, n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < n) { sb.append(s"<f$tag>").append(i); i += 1 }
      sb.substring(0, n)
    }
    val R = "ABCDEFGHIJKLMNOPQRST" // 20-char period
    val D = "the-quick-brown-fox-jumps-over-the-lazy-dog!" // 44 chars >= 27
    val Q = "a-completely-novel-block-no-corpus-doc-holds" // 44 chars >= 27
    val rows = Seq(
      // corpus (%10 != 0): five docs opening with R*2 — their within-R
      // selected fingerprints are position-identical, so each selected
      // hash has base df = 5·occ (well under the 64 cap)
      (11L, R * 2 + "#" + u(11, 60)), (21L, R * 2 + "#" + u(21, 60)),
      (31L, R * 2 + "#" + u(31, 60)), (41L, R * 2 + "#" + u(41, 60)),
      (51L, R * 2 + "#" + u(51, 60)),
      // the e28 deletion target (8 % 7 == 1) and a surviving D-partner
      (8L, D + u(8, 60)), (18L, D + "#" + u(18, 60)),
      // wave 1 (%20 == 0): the DEGENERATE periodic doc — every gram
      // hash occurs ~70×, so the probe cap blinds it (admitted as
      // novel) while its delta rows push the min-rotation hash past
      // the df cap → the TOMBSTONE branch; and a genuinely novel doc
      // sharing Q only with wave-2 doc 70 → the append-serve branch
      (40L, R * 70), (60L, Q + u(60, 60)),
      // wave 2 / d34 batch (%10 == 0)
      (30L, D + "@" + u(30, 60)), (50L, R * 2 + "@" + u(50, 60)),
      (70L, Q + "@" + u(70, 60)))
    rows.map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // land the base, snapshot its files (append must not rewrite them)
    DedupQueries.d34LandingFor(spark, dir)
    val baseDir = new java.io.File(graft.queries.Caches.landingPath(dir, "d34"))
    assert(baseDir.isDirectory, s"base landing dir missing: $baseDir")
    def snap(d: java.io.File): Map[String, Long] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = snap(baseDir)
    val (deltaTbl, tombPath) = DedupQueries.e27DeltaFor(spark, dir)
    // winnowing selects the SLIDING-WINDOW MINIMA of the rotation-hash
    // sequence (not just the global min): every rotation that is the
    // min of some 8-window gets selected ~70× in the periodic doc
    // (cd ~70) and sits in the base with df 5-10 (cb NOT NULL), so
    // exactly the circular 8-window minima set crosses the cap
    val hs = graft.functions.Hashing.gramHashes(R * 2, 20).take(20)
    val circMin = (0 until 20).map(j => (0 until 8).map(o => hs((j + o) % 20)).min).toSet
    val tombs = spark.read.schema("fp_h BIGINT").parquet(tombPath)
      .collect().map(_.getLong(0)).toSet
    assert(tombs === circMin,
      s"tombstones must be exactly the circular 8-window minima: $tombs vs $circMin")
    val delta = spark.table(deltaTbl)
    val deltaDocs = delta.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(deltaDocs.contains(60L) && deltaDocs.subsetOf(Set(40L, 60L)),
      s"delta must hold the admitted wave-1 docs only: $deltaDocs")
    assert(delta.filter(col("fp_h").isin(circMin.toSeq: _*)).head(1).isEmpty,
      "no newly-hot hash may land in the delta")
    assert(snap(baseDir) === before, "the base d34 landing was rewritten by the append")
    // e27 serve: doc 70 finds its admitted partner 60 (delta-only);
    // the blinded periodic doc 40 was admitted
    def vmap(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    val out27 = vmap("e27_winnow_append")
    assert(out27(70L) === ((true, 1L, Some(60L))),
      s"append-serve must find the delta partner: ${out27(70L)}")
    assert(out27(30L)._3 === Some(8L) && out27(30L)._2 === 2L,
      s"non-deleted serve keeps both D partners: ${out27(30L)}")
    // d34 (base only): 70 has no partner; the D doc sees both partners
    val out34 = vmap("d34_winnow_admission")
    assert(out34(70L) === ((false, 0L, None)), s"base-only must miss Q: ${out34(70L)}")
    assert(out34(40L) === ((false, 0L, None)),
      s"the probe cap must blind the periodic doc: ${out34(40L)}")
    assert(out34(30L)._2 === 2L && out34(30L)._3 === Some(8L), s"${out34(30L)}")
    // e28 cap-then-delete: the deleted partner 8 vanishes, 18 survives
    val out28 = vmap("e28_winnow_forget")
    assert(out28(30L) === ((true, 1L, Some(18L))),
      s"forgotten doc must neither match nor be matched: ${out28(30L)}")
    // e29: compacted content ≡ (base ∖ tombstones) ∪ delta, serve ≡ e27
    val compacted = spark.table(DedupQueries.e29CompactFor(spark, dir))
      .select("doc_id", "fp_pos", "fp_h").collect().map(_.toSeq).toSet
    val lambda = spark.table(DedupQueries.d34LandingFor(spark, dir))
      .join(broadcast(spark.read.schema("fp_h BIGINT").parquet(tombPath)),
        Seq("fp_h"), "left_anti")
      .unionByName(spark.table(deltaTbl))
      .select("doc_id", "fp_pos", "fp_h").collect().map(_.toSeq).toSet
    assert(compacted === lambda, "compacted content diverges from the lambda index")
    val out29 = SparkEntry.queries("e29_winnow_compact")(spark, dir).collect().map(_.toSeq)
    val out27r = SparkEntry.queries("e27_winnow_append")(spark, dir).collect().map(_.toSeq)
    assert(out29.sameElements(out27r), "compacted serve diverges from the lambda serve")
    graft.queries.Caches.release(spark, dir)
  }

  test("d29 write-back drops VACATED partitions: a merged-away cluster leaves no stale files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d29vac").toString
    // near-dup chain: old edges (5,21) and (3,19); the DELTA edge
    // (19,21) — 31 ≡ 1 (mod 5), so the carve is (a+b) % 5 and
    // 19+21 ≡ 0 — merges both components into label 3, so
    // part=pmod(5,16)=5 is left with NO rows and must be dropped
    // (dynamic overwrite alone cannot delete it). 100 shared words
    // with disjoint 8-word end substitutions put the intended pairs at
    // J = 90/106 ≈ 0.849 and every other pair at 82/114 ≈ 0.719 < 0.8.
    val w = (0 until 100).map(i => s"w$i")
    val doc21 = w.mkString(" ")
    val doc5 = (w.take(92) ++ (0 until 8).map(i => s"a$i")).mkString(" ")
    val doc19 = ((0 until 8).map(i => s"b$i") ++ w.drop(8)).mkString(" ")
    val doc3 = ((0 until 8).map(i => s"b$i") ++ w.slice(8, 92) ++
      (0 until 8).map(i => s"c$i")).mkString(" ")
    Seq((5L, doc5), (21L, doc21), (3L, doc3), (19L, doc19))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    // the construction must plant EXACTLY the intended edge set
    val edges = SparkEntry.queries("d2_minhash_lsh")(spark, dir)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === Set((3L, 19L), (5L, 21L), (19L, 21L)),
      s"planted edge set drifted: $edges")
    val out = SparkEntry.queries("d29_landed_labels")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(3L -> 3L, 5L -> 3L, 19L -> 3L, 21L -> 3L),
      s"merged labels wrong (stale vacated-partition rows?): $out")
    val path = DedupQueries.labelLandingFor(spark, dir)
    assert(!new java.io.File(path, "part=5").exists(),
      "the vacated partition's stale files survived the write-back")
    assert(new java.io.File(path, "part=3").exists())
    graft.queries.Caches.release(spark, dir)
  }

  test("d29 serve runs ONE BSP pass and the write-back only touches affected partitions") {
    // converge the store: build the landing + one merge write-back
    SparkEntry.queries("d29_landed_labels")(spark, sfDir).collect()
    val path = DedupQueries.labelLandingFor(spark, sfDir)
    // per-partition file inventory (name → (size, mtime)): dynamic
    // overwrite writes NEW task-UUID file names into every partition
    // it replaces, so an unchanged inventory means the partition's
    // files were never rewritten — byte-identity by inode
    def snap(): Map[String, Map[String, (Long, Long)]] = {
      val root = new java.io.File(path)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("part="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
        }.toMap
    }
    val before = snap()
    val runs0 = DedupQueries.bspRuns.get()
    SparkEntry.queries("d29_landed_labels")(spark, sfDir).collect()
    // the landed-store contract: labels_old comes from parquet, so the
    // serve path launches exactly one fixpoint — the subgraph relabel
    // (d28 launches two: old-side convergence + relabel)
    assert(DedupQueries.bspRuns.get() - runs0 === 1L,
      "d29 serve must run exactly one BSP fixpoint (the affected-subgraph relabel)")
    val after = snap()
    // independently recompute the partitions affected clusters touch
    val delta = SparkEntry.queries("d2_minhash_lsh")(spark, sfDir)
      .filter(DedupQueries.d28IsDelta)
    val deltaNodes = delta.select(col("doc1").as("doc_id"))
      .unionByName(delta.select(col("doc2").as("doc_id"))).distinct()
    val labels = spark.read.schema(DedupQueries.d29Schema).parquet(path)
    val affected = labels.join(deltaNodes, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val touchedParts = labels.join(affected, Seq("cluster_id"), "left_semi")
      .select("part").distinct().collect().map(r => s"part=${r.getInt(0)}").toSet
    val changed = (before.keySet ++ after.keySet)
      .filter(p => before.get(p) != after.get(p))
    assert(changed.nonEmpty, "fixture has delta edges, so some partitions must be rewritten")
    assert(changed.subsetOf(touchedParts),
      s"write-back rewrote partitions outside the affected set: ${changed -- touchedParts}")
    assert((before.keySet -- changed).nonEmpty,
      "fixture must leave some partitions untouched or the surgical-write pin is vacuous")
    graft.queries.Caches.release(spark, sfDir)
  }

  test("e24 band forget: a deleted doc neither matches nor is matched; base files untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e24").toString
    // two disjoint 100-word vocabularies; 4-word tail substitutions
    // put the intended pairs at J = 94/102 ≈ 0.9216 and cross-vocab
    // pairs at J = 0. Carves: batch ids % 10 == 0; deleted ids
    // % 7 == 1 (doc 8); survivors % 7 != 1 (doc 2).
    def words(p: String) = (0 until 100).map(i => s"$p$i")
    def sub4(ws: Seq[String], p: String) =
      ws.take(96) ++ (0 until 4).map(i => s"$p$i")
    val wA = words("a")
    val wB = words("b")
    val rows = Seq(
      8L -> wA, // corpus, DELETED
      2L -> wB, // corpus, survives
      10L -> wA, // batch: exact dup of ONLY the deleted doc
      20L -> sub4(wA, "p"), // batch: near dup of ONLY the deleted doc
      30L -> wB, // batch: exact dup of the survivor
      40L -> sub4(wB, "q")) // batch: near dup of the survivor
    rows.map { case (id, ws) => (id, ws.mkString(" "), "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    // pre-forget control: the landed-index classify sees the planted
    // signal (doc 10's only partner IS doc 8) — so e24's 'novel' below
    // is the forget working, not the fixture failing to plant
    val pre = SparkEntry.queries("d24_persisted_band_index")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2))))).toMap
    assert(pre(10L) === (("exact", Some(8L))), s"fixture signal missing: ${pre(10L)}")
    val baseDir = new java.io.File(graft.queries.Caches.landingPath(dir, "d24"))
    assert(baseDir.isDirectory, s"base band landing missing: $baseDir")
    def snap(): Map[String, Long] =
      baseDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = snap()
    val out = SparkEntry.queries("e24_band_forget")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    // the forgotten doc is matched on NEITHER axis
    assert(out(10L) === (("novel", None)),
      s"exact axis still matches the forgotten doc: ${out(10L)}")
    assert(out(20L) === (("novel", None)),
      s"band axis still matches the forgotten doc: ${out(20L)}")
    // surviving corpus still serves both axes
    assert(out(30L) === (("exact", Some(2L))), s"survivor exact lost: ${out(30L)}")
    assert(out(40L) === (("near", Some(2L))), s"survivor near lost: ${out(40L)}")
    assert(snap() === before, "the forget rewrote the base band landing")
    graft.queries.Caches.release(spark, dir)
  }

  test("e25 gram forget: cap-then-delete — deletion must not resurrect a build-hot gram") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e25").toString
    // G: df 65 at BUILD (63 survivors + deleted docs 8 and 22) — over
    // the 64 cap, so the index never held its positions; after the
    // deletes the SURVIVING df is 63 ≤ 64, the resurrection trap. G2:
    // df 2 (survivor 2 + deleted 15). Corpus fillers open "<f", batch
    // fillers open "#b" — so no boundary window (gram straddling the
    // block and the filler) is ever shared between batch and corpus.
    val G = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz01234567".take(60)
    val G2 = "ZYXWVUTSRQPONMLKJIHGFEDCBAzyxwvutsrqponmlkjihgfedcba76543210".take(60)
    def u(stamp: String, tag: Int, n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < n) { sb.append(s"$stamp$tag>").append(i); i += 1 }
      sb.substring(0, n)
    }
    val survivorsG = Iterator.from(1)
      .filter(i => i % 10 != 0 && i % 7 != 1 && !Set(2, 8, 15, 22).contains(i))
      .take(63).toSeq.map(_.toLong)
    val rows =
      survivorsG.map(id => (id, G + u("<f", id.toInt, 20))) ++ Seq(
        (8L, G + u("<f", 8, 20)), // deleted G holder
        (22L, G + u("<f", 22, 20)), // deleted G holder
        (2L, G2 + u("<f", 2, 20)), // surviving G2 holder
        (15L, G2 + u("<f", 15, 20)), // deleted G2 holder
        (10L, G + u("#b", 10, 20)), // batch: probes the build-hot gram
        (20L, G2 + u("#b", 20, 80))) // batch: probes the cold gram
    rows.map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("e25_gram_forget")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getLong(4), r.getBoolean(6)))).toMap
    // cap-then-delete: surviving df 63 ≤ 64 must NOT resurrect G —
    // the build dropped its positions, so serve has nothing to probe
    assert(out(10L) === ((0L, None, 0L, true)),
      s"deletion resurrected a build-capped gram: ${out(10L)}")
    // the cold gram still serves, minus the forgotten holder: ONE
    // partner (survivor 2), not two
    assert(out(20L) === ((1L, Some(2L), 60L, true)),
      s"forgotten G2 holder still matched (or survivor lost): ${out(20L)}")
    graft.queries.Caches.release(spark, dir)
  }

  test("d35 mixture weights flatten the source distribution (α = 0.5 temperature)") {
    val out = SparkEntry.queries("d35_mixture_sample")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Double]("mix_weight"),
        r.getAs[Double]("sample_rate"), r.getAs[Long]("n_sampled")))
    assert(out.length >= 2, "fixture needs at least two sources")
    // the weights are a distribution (rounding noise only)
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-4,
      s"mix weights must sum to 1, got ${out.map(_._2).sum}")
    // temperature flattening: for any smaller/larger source pair, the
    // weight RATIO strictly exceeds the doc-share ratio (sqrt pulls
    // ratios toward 1), while absolute ordering is preserved
    for {
      (na, wa, _, _) <- out; (nb, wb, _, _) <- out
      if na < nb
    } {
      assert(wa <= wb, s"weight ordering inverted: $na->$wa vs $nb->$wb")
      assert(wa / wb > na.toDouble / nb - 1e-9,
        s"small source not up-weighted: $na/$nb share vs $wa/$wb weight")
    }
    // the sampler respects both the per-source population and the cap
    out.foreach { case (n, _, rate, k) =>
      assert(k <= n, s"sampled $k of $n")
      assert(rate <= 1.0 + 1e-12 && rate >= 0.0)
    }
  }

  test("e36/e37 serve the mixture from the landed count store; store files untouched") {
    val dir = SparkTestBase.sfDir
    val storePath = new java.io.File(DedupQueries.mixStoreFor(spark, dir))
    def sig = storePath.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = sig
    assert(before.nonEmpty, "landed store is empty")
    // refresh serve ≡ the full retrain (the oracle's claim, pinned
    // in-engine so a future refactor can't silently skew the merge)
    val retrain = SparkEntry.queries("d35_mixture_sample")(spark, dir)
      .collect().map(_.toSeq).toSet
    val served = SparkEntry.queries("e36_mixture_refresh")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(served === retrain, "landed refresh diverged from the retrain")
    // forget: the deletion carve's docs contribute to NEITHER the
    // counts nor the sampled set — equal to d35 over the kept corpus
    val deletedIds = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(deletedIds.nonEmpty, "fixture has no deletion carve")
    val forgot = SparkEntry.queries("e37_mixture_forget")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"))).toMap
    val keptCounts = Tables.documents(spark, dir)
      .filter(!col("doc_id").isin(deletedIds.toSeq: _*) || col("doc_id").isNull)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n"))).toMap
    assert(forgot === keptCounts, "forget counts diverged from the kept corpus")
    assert(sig === before, "forget/refresh serves touched the landed store files")
    graft.queries.Caches.release(spark, dir)
  }
}
