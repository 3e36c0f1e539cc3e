package graft

import org.scalatest.funsuite.AnyFunSuite

/** Empty-input contract over the ENTIRE query surface: a production
  * pipeline reads empty date-partitions routinely, so every one of the
  * registered queries must return an (empty or null-stat) result on
  * zero-row tables — never throw. This sweep found 15 crash sites when
  * first run (empty-seed codebook indexing, 0/0 seed moduli, BPE's
  * collect()(0), schema inference over fileless landing dirs, ANSI
  * divide-by-zero in ratio stats); it exists so none of them regress. */
class RobustnessSpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("every registered query tolerates zero-row tables") {
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_empty_tables") { dir =>
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
        spark.read.parquet(s"$src/$t.parquet").limit(0)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(120)}") }
      }
      assert(failures.isEmpty,
        s"queries crashed on empty tables:\n${failures.mkString("\n")}")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("vector queries tolerate malformed embeddings (null / wrong-dim / all-zero / null-element)") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_bad_vecs") { dir =>
      spark.read.parquet(s"$src/documents.parquet")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // corrupt a slice of the fixture's embeddings: admission at
      // Tables.embeddings must drop these rows, and the optimizer's
      // inferred isnotnull(UDF(...)) predicates must not NPE the kernels
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("embedding",
          when(col("vec_id") % 97 === 5, lit(null))
            .when(col("vec_id") % 97 === 17, array().cast("array<float>"))
            .when(col("vec_id") % 97 === 33, expr("slice(embedding, 1, 32)"))
            .when(col("vec_id") % 97 === 41,
              expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
            // null ELEMENTS inside an otherwise well-formed 64-dim vector:
            // exists(_ =!= 0) alone would admit it; the forall(isNotNull)
            // admission conjunct must reject it before any kernel unboxes
            .when(col("vec_id") % 97 === 59,
              expr("transform(embedding, (x, i) -> IF(i % 7 = 3, CAST(NULL AS FLOAT), x))"))
            .otherwise(col("embedding")))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val vecQueries = SparkEntry.queries.keys.filter(n =>
        n.startsWith("x") || Seq("d5_embedding_dup", "d13_semantic_clusters",
          "d14_semantic_edges_ivf", "d16_semantic_decontaminate").contains(n)).toSeq.sorted
      val failures = vecQueries.flatMap { name =>
        try { SparkEntry.queries(name)(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(120)}") }
      }
      assert(failures.isEmpty,
        s"queries crashed on malformed embeddings:\n${failures.mkString("\n")}")
      // admission actually dropped the malformed rows
      assert(Tables.embeddings(spark, dir).count() <
        spark.read.parquet(s"$dir/embeddings.parquet").count())
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("every registered query tolerates ~5% nulls in every column of every table") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_null_tables") { dir =>
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")) {
        val tb = spark.read.parquet(s"$src/$t.parquet")
        // deterministic per-(table, column, row) null pattern over every
        // column, join keys included — the dirty-extract reality
        tb.select(tb.schema.fieldNames.zipWithIndex.map { case (c, i) =>
          when(abs(xxhash64(lit(t), lit(c), monotonically_increasing_id() + i)) % 20 === 0,
            lit(null)).otherwise(col(c)).as(c)
        }.toSeq: _*).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(120)}") }
      }
      assert(failures.isEmpty,
        s"queries crashed on null-riddled tables:\n${failures.mkString("\n")}")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("text surface tolerates mojibake, control chars, and a multi-megabyte one-token document") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_mojibake") { dir =>
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "embeddings"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      // The dirty-crawl reality the four earlier sweeps don't cover:
      //  - invalid UTF-8 on the wire (a CESU-8 lone-surrogate encoding
      //    ED A0 80, a stray continuation byte 80, and 0xFF, which no
      //    UTF-8 sequence contains) injected via binary→string cast so
      //    the bytes reach UTF8String unvalidated, exactly as a parquet
      //    file written by a non-validating producer would deliver them;
      //  - C0 control characters incl. NUL and a raw ANSI escape;
      //  - BOM / zero-width-space / RTL-override formatting marks;
      //  - one multi-megabyte single-token document (no whitespace at
      //    all), the degenerate shape that turns per-token work into
      //    per-document work.
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("text",
          when(col("doc_id") === 3, concat(lit("z"), repeat(lit("a"), 2000000)))
            .when(col("doc_id") % 17 === 0,
              concat(col("text"), expr("cast(unhex('EDA08080FF') as string)")))
            .when(col("doc_id") % 17 === 5,
              concat(lit("\u0000\u0001\u0007\u001b[31m"), col("text")))
            .when(col("doc_id") % 17 === 9,
              concat(lit("\ufeff\u200b\u202e"), col("text"), lit("\u200d")))
            .otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(160)}") }
      }
      assert(failures.isEmpty,
        s"queries crashed on mojibake/degenerate text:\n${failures.mkString("\n")}")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("vector queries survive an all-identical embedding corpus (degenerate geometry)") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_const_vecs") { dir =>
      spark.read.parquet(s"$src/documents.parquet")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // every vector the SAME point: k-means has one reachable centroid
      // (every other seed's cell is EMPTY), all pairwise cosines are
      // exactly 1, IVF cells collapse to one, PQ codebooks train on zero
      // variance, and every distance tie must break deterministically —
      // the geometric analogue of the all-identical text corpus. Crashes
      // here are empty-cell aggregations, 0/0 normalizations, or
      // tie-broken top-k nondeterminism surfacing as flaky counts.
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("embedding",
          expr("transform(embedding, (x, i) -> CAST(1.0 + i % 3 AS FLOAT))"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val vecQueries = SparkEntry.queries.keys.filter(n =>
        n.startsWith("x") || Seq("d5_embedding_dup", "d13_semantic_clusters",
          "d14_semantic_edges_ivf", "d16_semantic_decontaminate").contains(n)).toSeq.sorted
      val failures = vecQueries.flatMap { name =>
        try { SparkEntry.queries(name)(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(160)}") }
      }
      assert(failures.isEmpty,
        s"queries crashed on identical embeddings:\n${failures.mkString("\n")}")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("dedup surface survives an all-identical corpus (every candidate guard's worst case)") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_identical") { dir =>
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "embeddings"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      // Every document the SAME multi-sentence paragraph: every shingle,
      // gram hash, band bucket, and prefix token is shared by ALL docs at
      // once — the single shape that turns un-capped candidate generation
      // quadratic (and the reason the df-caps / per-document probe caps /
      // hot-hash guards exist). 300 docs keeps the TRUE answer (all-pairs
      // duplicates, which IS quadratic for exact operators) small enough
      // to verify the sweep stays prompt while any guard regression still
      // shows up as a blowup or OOM, not a quiet slowdown.
      val para = "The quick brown fox jumps over the lazy dog near the river bank. " +
        "Pack my box with five dozen liquor jugs before the storm arrives tonight. " +
        "How vexingly quick daft zebras jump across the frozen northern plains. " +
        "Sphinx of black quartz, judge my vow as the caravan departs at dawn."
      spark.read.parquet(s"$src/documents.parquet")
        .orderBy("doc_id").limit(300)
        .withColumn("text", lit(para))
        .withColumn("n_chars", lit(para.length.toLong))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(160)}") }
      }
      assert(failures.isEmpty,
        s"queries crashed on the all-identical corpus:\n${failures.mkString("\n")}")
      // the exact-dedup ground truth on this corpus: one keeper, 299 dupes
      val d1 = SparkEntry.queries("d1_dedup_exact")(spark, dir).collect()
      assert(d1.nonEmpty, "d1 found no duplicate groups on an all-identical corpus")
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("LM gate bounds the per-document fold on a book-length document (10⁶ words)") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_bookdoc") { dir =>
      val cap = graft.queries.TextQueries.LmDocTypeCap
      // doc 0 (held-out: % 5 == 0) becomes a 10⁶-word document of
      // all-distinct words: 999,999 distinct bigram TYPES — the shape
      // that used to collect a ~100 MB single row into the scoring fold
      val nWords = 1000000L
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("text",
          when(col("doc_id") === 0, expr(
            s"array_join(transform(sequence(0, ${nWords - 1}), i -> concat('w', i)), ' ')"))
            .otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.queries.TextQueries.queries("t53_lm_perplexity")(spark, dir)
        .filter(col("doc_id") === 0).collect()
      assert(out.length === 1, "book-length held-out doc must be scored")
      val r = out.head
      assert(r.getLong(1) === nWords - 1, s"n_bigrams ${r.getLong(1)}")
      assert(r.getLong(3) === nWords - 1 - cap,
        s"n_types_dropped ${r.getLong(3)} must report the truncation explicitly")
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite,
        s"xent must stay finite: ${r.getDouble(2)}")
      // the streaming twin scores the same arrival identically — with its
      // state row bounded at cap types, not 10⁶ (the map-side truncation)
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val (c2, c1, vDf) = graft.queries.TextQueries.lmTrainCounts(spark, dir)
      val v = vDf.collect()(0).getLong(0)
      val text = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") === 0).select("text").collect().head.getString(0)
      val input = MemoryStream[(java.sql.Timestamp, Long, String)]
      val q = graft.streaming.EventStream.scoreArrivals(
          input.toDF().toDF("ts", "doc_id", "text"), c2, c1, v)
        .writeStream.format("memory").queryName("lm_book")
        .outputMode("append").start()
      try {
        // nonzero base ts: an arrival at epoch 0 ties the INITIAL
        // watermark and is dropped as late — a harness edge, not the
        // gate under test
        val base = 1700000000000L
        input.addData((new java.sql.Timestamp(base), 0L, text))
        q.processAllAvailable()
        input.addData((new java.sql.Timestamp(base + 86400000L), -999L,
          "watermark advancer text"))
        q.processAllAvailable()
        val st = spark.table("lm_book").filter(col("doc_id") === 0).collect()
        assert(st.length === 1)
        assert(st.head.getLong(1) === r.getLong(1) &&
          st.head.getDouble(2) === r.getDouble(2) &&
          st.head.getLong(3) === r.getLong(3),
          s"stream ${st.head} must equal batch $r on the book-length doc")
      } finally q.stop()
      graft.queries.Caches.release(spark, dir)
    }
  }

  test("t66 char coverage is exact on degenerate docs (all-one-token book, two-token doc, empty)") {
    import org.apache.spark.sql.functions._
    val src = SparkTestBase.sfDir
    SparkTestBase.withTempDir("graft_t66doc") { dir =>
      // doc 0: a 10⁵-word document of ONE repeated token — every bigram
      // is the same duplicated gram, so dup2 coverage must be EXACTLY
      // total chars and top3 count exactly n-2 (the repetition filter's
      // design case: boilerplate spam); doc 1: two tokens (no 3-gram,
      // one unduplicated bigram — both fractions 0); doc 2: empty text
      // (one zero-length token; guarded division)
      val n = 100000L
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("text",
          when(col("doc_id") === 0, expr(
            s"array_join(transform(sequence(1, $n), i -> 'spam'), ' ')"))
            .when(col("doc_id") === 1, lit("only two"))
            .when(col("doc_id") === 2, lit(""))
            .otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.queries.TextQueries.queries("t66_repetition_chars")(spark, dir)
        .filter(col("doc_id") <= 2).collect()
        .map(r => r.getLong(0) -> r).toMap
      val spam = out(0L)
      assert(spam.getAs[Long]("n_tokens") === n)
      assert(spam.getAs[Long]("n_chars") === 4 * n)
      assert(spam.getAs[Long]("top3_count") === n - 2)
      assert(spam.getAs[Long]("dup2_chars") === 4 * n,
        "every char of the all-one-token doc is covered by duplicated bigrams")
      assert(spam.getAs[Double]("dup2_char_frac") === 1.0)
      val two = out(1L)
      assert(two.getAs[Long]("top3_count") === 0 &&
        two.getAs[Long]("dup2_chars") === 0 &&
        two.getAs[Double]("dup2_char_frac") === 0.0)
      val empty = out(2L)
      assert(empty.getAs[Long]("n_chars") === 0 &&
        empty.getAs[Double]("top3_char_frac") === 0.0 &&
        empty.getAs[Double]("dup2_char_frac") === 0.0,
        "zero-char doc must hit the guarded division, not NaN")
      graft.queries.Caches.release(spark, dir)
    }
  }
}
