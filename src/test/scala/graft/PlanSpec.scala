package graft

import graft.queries.CoreQueries
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality guards: the properties the engine's scale story
  * rests on must be visible in the executed plans, not just intended —
  * filters reach the parquet scan, dimension joins broadcast, the hot
  * path stays inside whole-stage codegen. */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("p8 price filter pushes down to the parquet scan") {
    val plan = executedPlan("p8_price_filter")
    assert(plan.contains("PushedFilters: [IsNotNull(l_extendedprice), GreaterThan(l_extendedprice,0.01)]"),
      s"filter not pushed:\n$plan")
  }

  test("scans prune columns to the projection") {
    val plan = executedPlan("p8_price_filter")
    // Only the three selected columns should be read.
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>") ||
      plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:bigint,l_extendedprice:double>"),
      s"scan reads more than the projection:\n$plan")
  }

  test("j1 article match broadcasts the dimension side") {
    val plan = executedPlan("j1_article_match")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("t52 tokenizer serve broadcasts the landed vocab (no word-stream shuffle for the join)") {
    val df = SparkEntry.queries("t52_bpe_doc_tokens")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join must broadcast, never shuffle the exploded word stream:\n$plan")
    graft.queries.Caches.release(spark, sfDir)
  }

  test("extraction lifecycle serves are parquet scans (no markup algebra in the executed plans)") {
    Seq("e31_extract_append", "e32_extract_forget", "e33_extract_compact").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("</script>"),
        s"$q must serve landed files, not re-extract:\n${plan.take(2000)}")
    }
    graft.queries.Caches.release(spark, sfDir)
  }

  test("q1 aggregation runs inside whole-stage codegen (final adaptive plan)") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    df.collect() // finalize the adaptive plan — codegen spans only show post-execution
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the whole-stage-codegen marker in the final adaptive plan
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
  }

  test("p13 anti-filter compiles to a broadcast anti join (no shuffle of part)") {
    val plan = executedPlan("p13_anti_join")
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
  }

  test("d1 exact dedup aggregates with map-side partial combine") {
    val df = SparkEntry.queries("d1_dedup_exact")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
  }

  test("u2 semi-join membership broadcasts (no shuffle of the probe side)") {
    val df = SparkEntry.queries("u2_semi_join")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    assert(plan.contains("Broadcast"), s"semi join did not broadcast:\n$plan")
  }

  test("e7 as-of join is join-free: one key shuffle, no pair explosion") {
    val df = SparkEntry.queries("e7_asof_join")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    // AQE renders the final plan followed by "== Initial Plan ==" — count
    // shuffles in the final section only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(keyShuffles == 1,
      s"expected exactly one key-hash shuffle, found $keyShuffles:\n$finalPlan")
  }

  test("s22 SCD2 merge keeps every join equi-keyed (no interval explosion)") {
    val df = SparkEntry.queries("s22_scd2_merge")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"SCD2 merge must stay on keyed equi-joins:\n$plan")
  }

  test("e16 point-in-time join is as-of-shaped: no range/interval join node") {
    val df = SparkEntry.queries("e16_pit_join")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only join allowed is the facts' lineitem⋈orders equi-join;
    // the dimension lookup itself must be the union-sort-carry window,
    // never a pair-exploding theta join
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"PIT join must not plan a pair explosion:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"PIT join should carry versions via a window, not a join:\n$plan")
  }

  test("e5 pivot aggregates with map-side partial combine over explicit values") {
    val df = SparkEntry.queries("e5_pivot")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
  }

  test("GlobalOrder numbers a large batch with no single-partition exchange") {
    import org.apache.spark.sql.functions._
    // A "large synthetic insert batch": 100k rows — big enough that a
    // global row_number window would be the wrong plan.
    val big = spark.range(100000).select(
      (col("id") % 97).as("anchor"), col("id").as("article"))
    val numbered = graft.operators.GlobalOrder.withPosition(
      big, "pos", col("anchor"), col("article"))
    numbered.collect() // finalize adaptive plan
    val plan = numbered.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global numbering funnelled through one partition:\n$plan")
    // Equivalence with the single-task global window on the same data.
    val rows = numbered.orderBy("pos")
      .select("pos", "anchor", "article").collect()
    assert(rows.map(_.getLong(0).toInt).toSeq === (1 to 100000))
    val keys = rows.map(r => (r.getLong(1), r.getLong(2)))
    assert(keys.sameElements(keys.sorted), "positions disagree with (anchor, article) order")
  }

  test("two differently pruned evaluations of one repartitionByRange assign identical shard ids") {
    import org.apache.spark.sql.functions._
    // GlobalOrder evaluates its range-sorted subtree twice (local ranks
    // and shard counts) as two physically distinct exchanges; its
    // offsets are only right if both sample the same range bounds.
    val df = spark.range(100000).select(
      ((col("id") * 2654435761L) % 1000003).as("k"), col("id"),
      (col("id") % 997).as("payload"))
    val sorted = df.repartitionByRange(col("k"), col("id"))
      .withColumn("p", spark_partition_id())
    // one side needs payload and the other does not, so column pruning
    // splits the exchange in two (the t24 counts-vs-local shape)
    val a = sorted.select(col("k"), col("id"), col("payload"), col("p").as("pa"))
    val b = sorted.select(col("k"), col("id"), col("p").as("pb"))
    val j = a.join(b, Seq("k", "id"))
    assert(j.count() === 100000L)
    assert(j.filter(col("pa") =!= col("pb")).count() === 0L, "shard ids differ")
    j.collect() // finalize the adaptive plan
    val plan = j.queryExecution.executedPlan.toString
    assert("ReusedExchange|ReusedQueryStage".r.findAllIn(plan).isEmpty,
      s"the two evaluations must stay distinct exchanges:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).size >= 2,
      s"expected two range exchanges:\n$plan")
  }

  test("e15 serves the composed verdict from the landed/memoized indexes") {
    val df = SparkEntry.queries("e15_ingest_verdict")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // band axis reads d24's LANDED bucketed table, not recomputed
    // corpus bands (the substring axis's d26 scan is hidden behind its
    // eager serve checkpoints — its layout is pinned by DedupSpec on
    // the landed table directly)
    assert(plan.contains("graft_d24_bands"),
      s"band axis did not read the landed d24 table:\n$plan")
    // semantic axis reuses d14's memoized cached edge frame
    assert(plan.contains("InMemoryTableScan"),
      s"semantic axis did not reuse the d14 edge memo:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"composed verdict plans a cartesian product:\n$plan")
    // ONE batch scan: every axis reads the arrival slice through the
    // shared checkpointed features frame (a LogicalRDD in the plan),
    // so the only documents FileScan left in the final plan is the
    // exact axis's CORPUS side (before the shared frame, each axis
    // re-scanned and re-featurized the batch — ~5 documents scans)
    val finalPlan = plan.split("== Initial Plan ==").head
    val docScans = finalPlan.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans <= 2,
      s"composed verdict re-scans the arrival batch ($docScans documents scans):\n$plan")
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"arrival features are not served from the shared checkpoint:\n$plan")
  }

  test("e34 composes all six axes from landed state with one arrival featurization") {
    val df = SparkEntry.queries("e34_full_ingest_verdict")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // dedup axes: e15's pins hold through the composition
    assert(plan.contains("graft_d24_bands"),
      s"band axis did not read the landed d24 table:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"memoized frames (d14 edges / lang verdicts) not reused:\n$plan")
    // BroadcastNestedLoopJoin appears ONLY as the LM scorer's one-row
    // (N, V) scalar attach (crossJoin(broadcast(nv)) — the repo's
    // accepted scalar-attach shape); a cartesian over real relations
    // is still forbidden
    assert(!plan.contains("CartesianProduct"),
      s"composed verdict plans a cartesian product:\n$plan")
    // the three NEW axes serve LANDED artifacts: the t59 c3 store
    // (perplexity) and the e34 domain-history store are parquet scans
    // of their landing dirs, never recomputes of corpus text
    assert(plan.contains("graft_t59_"),
      s"perplexity axis did not read the landed c3 store:\n$plan")
    assert(plan.contains("graft_e34h_"),
      s"domain axis did not read the landed history store:\n$plan")
    // ONE arrival featurization: every axis reads the arrival slice
    // through the shared checkpoint (Scan ExistingRDD); the only
    // documents FileScans left are corpus sides (exact axis), never
    // a re-scan of the arrival batch per axis
    val finalPlan = plan.split("== Initial Plan ==").head
    val docScans = finalPlan.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans <= 2,
      s"composed verdict re-scans the arrival batch ($docScans documents scans):\n$plan")
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"arrival features are not served from the shared checkpoint:\n$plan")
  }

  test("e35 serves wave-2 admission from base ∪ delta with a text-free scan") {
    import org.apache.spark.sql.functions.col
    // base-file stability: building the delta must not rewrite the
    // landed history (e20's append discipline)
    val basePath = graft.queries.WebQueries.e34DomainHistFor(spark, sfDir)
    def snap = Option(new java.io.File(basePath).listFiles()).get
      .map(f => f.getName -> ((f.length, f.lastModified))).toMap
    val before = snap
    graft.queries.WebQueries.e35DeltaFor(spark, sfDir)
    assert(snap === before, "delta landing rewrote the base history files")
    val df = SparkEntry.queries("e35_domain_append")(spark, sfDir)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_e34h_") && plan.contains("graft_e35d_"),
      s"wave-2 serve must read the landed base AND delta:\n$plan")
    // the serve's documents scan carries only (doc_id, source) — the
    // URL/domain verdict never reads page text. The wave-2 frame is
    // cached (the codegen-cliff fix), so the scan lives in the cached
    // relation's child plan — search both.
    val cachedPlans = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }.mkString("\n")
    val docScanSchemas = (plan + "\n" + cachedPlans).linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents"))
      .toSeq
    assert(docScanSchemas.nonEmpty && docScanSchemas.forall(l =>
        !l.contains("text:")),
      s"wave-2 parse must not read document text:\n${docScanSchemas.mkString("\n")}")
    // the leg's point: some wave-2 domain is over_cap ONLY because
    // wave-1 admissions filled it (base history below the cap)
    val baseCounts = spark.read
      .schema(graft.queries.WebQueries.domainStatSchema).parquet(basePath)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val crossed = rows.filter(r => r.getString(3) == "over_cap" &&
      baseCounts.getOrElse(r.getString(1), 0L) <
        graft.queries.DedupQueries.E34DomainCapDocs)
    assert(crossed.nonEmpty,
      "no wave-2 domain crossed the cap via wave-1 admissions — the append leg is untested")
    assert(rows.map(_.getString(3)).toSet === Set("blocked", "over_cap", "ok"),
      "wave-2 verdicts must exercise every branch")
  }

  test("e11 anomaly gate is a broadcast map-side filter (one stats shuffle only)") {
    val df = SparkEntry.queries("e11_anomaly")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"stats not broadcast:\n$plan")
    // the probe (events) side must flow into the join with no exchange:
    // the only hash exchange allowed is the stats aggregate's. Count
    // within the FINAL adaptive plan only — toString appends the
    // initial plan too, which would double-count every exchange.
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashExchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"probe side shuffled:\n$finalPlan")
  }

  test("x7 ADC search caps the rank exchange with WindowGroupLimit pushdown") {
    val df = SparkEntry.queries("x7_pq_adc")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"top-k not pushed below the exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"distance tables not broadcast:\n$plan")
    assert(plan.contains("partial_sum"), s"ADC sum not partial-aggregated map-side:\n$plan")
  }

  test("s15 partition filter prunes at the file listing (PartitionFilters non-empty)") {
    val plan = executedPlan("s15_partition_prune")
    assert(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      s"no listing-time partition pruning:\n$plan")
  }

  test("o3 numbering plan contains no single-partition exchange") {
    // s8 shares the same GlobalOrder numbering but also computes the
    // scalar max(article), whose FINAL agg stage is legitimately a
    // single partition over per-task partial rows — so the clean
    // assertion is made on o3, which has no scalar aggregate.
    val df = SparkEntry.queries("o3_insert_order")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"o3 numbering not partitioned:\n$plan")
  }

  test("GlobalOrder ranks within skewed groups with no single-partition window") {
    import org.apache.spark.sql.functions._
    // One group holds 80% of 100k rows — the case where a
    // `row_number() OVER (PARTITION BY grp ...)` window funnels most of
    // the data through a single task.
    val big = spark.range(100000).select(
      when(col("id") % 5 === 0, concat(lit("small_"), col("id") % 5))
        .otherwise(lit("big")).as("grp"),
      ((col("id") * 31) % 100003).as("k"), col("id"))
    val ranked = graft.operators.GlobalOrder.withPositionWithin(
      big, "pos", Seq("grp"), col("k"), col("id"))
    ranked.collect()
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"grouped ranking funnelled through one partition:\n$plan")
    // Equivalence with the per-group global window on the same data.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("k"), col("id"))
    val expected = big.withColumn("pos", row_number().over(w))
      .select("grp", "id", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val got = ranked.select("grp", "id", "pos").collect()
    assert(got.length === 100000)
    got.foreach { r =>
      assert(expected((r.getString(0), r.getLong(1))) === r.getLong(2).toInt)
    }
  }

  test("t24 stratified split plan contains no single-partition exchange") {
    val df = SparkEntry.queries("t24_stratified_split")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"t24 stratified rank not partitioned:\n$plan")
  }

  test("e13 range join is a bucketized equi-join, not a nested-loop scan") {
    val df = SparkEntry.queries("e13_range_join")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested-loop scan:\n$plan")
  }

  test("t21 sequence packing runs the prefix sum with no single-partition exchange") {
    // the whole operator is GlobalOrder.withRunningTotal — a global
    // `sum() OVER (ORDER BY doc_id)` formulation would show
    // Exchange SinglePartition here and die at corpus scale
    val df = SparkEntry.queries("t21_sequence_pack")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"t21 prefix sum not partitioned:\n$plan")
  }

  test("e18's fact scan carries a dynamic-pruning partition filter from the dim subquery") {
    // the qualifying-day set is a runtime subquery, so static pruning
    // cannot apply — the scan must show a dynamicpruning expression in
    // its PartitionFilters or the 100 TB fact read is a full scan
    val df = SparkEntry.queries("e18_dpp_join")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"e18 fact scan is not dynamically pruned:\n$plan")
  }

  test("t37 budget curation runs the grouped prefix sum with no single-partition exchange") {
    // GlobalOrder.withRunningTotalWithin — the `sum() OVER (PARTITION
    // BY source ORDER BY q DESC)` formulation would funnel a dominant
    // source through one task; the sharded form must not plan
    // Exchange SinglePartition anywhere
    val df = SparkEntry.queries("t37_budget_curation")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"t37 prefix sum not partitioned:\n$plan")
    // ONE corpus TEXT scan: the budget aggregate derives from the same
    // tokenized frame post-prefix-sum, sharing the operator's range
    // exchange (ReusedExchange) — before, an independent derivation
    // read and tokenized the text column a second time (a full extra
    // text pass at 100 TB). Column-pruned branches may still take a
    // narrow no-text documents scan; only text reads are the cost.
    val finalPlan = plan.split("== Initial Plan ==").head
    val textScans = finalPlan.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents") &&
        l.contains("text:string"))
    assert(textScans == 1,
      s"t37 reads/tokenizes the corpus text $textScans times (want 1):\n$plan")
    assert(finalPlan.contains("ReusedExchange"),
      s"t37's budget branch does not reuse the prefix-sum exchange:\n$plan")
  }

  test("t41 sequence packing runs the global prefix sum with no single-partition exchange") {
    val df = SparkEntry.queries("t41_sequence_packing")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"t41 prefix sum funnelled:\n$plan")
    // packing invariants: contiguous token stream (no gaps), every
    // crossing count non-negative and consistent with the chunk size
    val rows = df.collect()
    val byId = rows.sortBy(_.getLong(0))
    var expect = 0L
    byId.foreach { r =>
      assert(r.getAs[Long]("cum") === expect,
        s"gap in the packed stream at doc ${r.getLong(0)}")
      expect += r.getAs[Long]("toks")
      assert(r.getAs[Long]("n_crossings") >= 0L &&
        r.getAs[Long]("n_crossings") <= r.getAs[Long]("toks") / 512 + 1)
    }
  }

  test("j10 bloom prune filters the probe map-side before the only (broadcast) join") {
    val df = SparkEntry.queries("j10_bloom_prune")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // Below BloomPrune.LiteralCapKeys (this fixture, and any build
    // side to 4M keys) the bitset test must stay a scalar filter over
    // a literal array — a words-table join here would shuffle the
    // probe for nothing. The words-join formulation is legal ONLY on
    // the past-cap path (BloomSpec drives it on a 4.3M-key build).
    assert(plan.contains("element_at"), s"bloom bit test not inlined as a filter:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"j10 shuffles or nested-loops a join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"survivor join not broadcast:\n$plan")
  }

  test("q18 semi-joins the hot-key aggregate and partial-aggregates the fact scan") {
    val df = SparkEntry.queries("q18_big_orders")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the >250 survivors are a tiny key set at test scale — the fact
    // re-scan must semi-join against them, and with the hint removed
    // (the set grows linearly with SF) AQE's runtime stats must still
    // CHOOSE broadcast here, proving the un-hinted shape keeps the
    // map-side semi-join where it fits
    assert(plan.contains("LeftSemi"), s"no semi join on the hot-key set:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"hot-key semi join not broadcast:\n$plan")
    // the O(|lineitem|) quantity rollup must combine map-side
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q18 plans an all-pairs join:\n$plan")
  }

  test("q17 decorrelates: one per-part aggregate, broadcast join-back, pruned fact scan") {
    val df = SparkEntry.queries("q17_small_quantity")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the correlated scalar subquery must NOT re-aggregate per outer
    // row: exactly one shuffled per-part aggregate (partial+final),
    // joined back broadcast; the part filter prunes the fact scan via
    // a broadcast join — nothing here may sort-merge or nested-loop
    assert(plan.contains("partial_sum"), s"per-part aggregate not partial:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"join-back not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q17 shuffles or nested-loops a join:\n$plan")
  }

  test("q21 self-joins stay equi-keyed with a broadcast dimension chain") {
    val df = SparkEntry.queries("q21_waiting_suppliers")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both fact self-joins key on l_orderkey with the supplier
    // inequality as a residual — an all-pairs node here is quadratic
    // in the fact table
    assert(plan.contains("LeftSemi"), s"no semi self-join:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti self-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q21 plans an all-pairs join:\n$plan")
    // supplier→nation is a broadcast dim chain; the status filter
    // reaches the orders scan
    assert(plan.contains("BroadcastHashJoin"), s"dimension chain not broadcast:\n$plan")
    assert(plan.contains("EqualTo(o_orderstatus,F)"), s"status filter not pushed:\n$plan")
  }

  test("q19's OR-of-ANDs stays one equi-join with per-side implications pushed") {
    val df = SparkEntry.queries("q19_disjunctive")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the three condition arms share the partkey equi-key, so the join
    // must stay a single broadcast hash join with the disjunction as a
    // residual — a nested loop over arms is quadratic
    assert(plan.contains("BroadcastHashJoin"), s"q19 join not broadcast-hash:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q19 plans an all-pairs join:\n$plan")
    // Catalyst must factor the part-only implication out of the OR and
    // push it into the part scan (brand ∈ {12,23,34} as an In/Or push)
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"),
      s"per-side OR implication not pushed to the part scan:\n$plan")
  }

  test("q22 attaches the scalar threshold by broadcast and anti-joins the pruned fact") {
    val df = SparkEntry.queries("q22_dormant_customers")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the one-row positive-balance aggregate must attach as a broadcast
    // (never a shuffle), and the no-recent-orders test must be a
    // broadcast anti-join on custkey with the date filter pushed into
    // the orders scan — not a per-row subquery
    assert(plan.contains("LeftAnti"), s"no anti join on recent orders:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q22 shuffles a join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"scalar/anti joins not broadcast:\n$plan")
    assert(plan.contains("IsNotNull(o_orderdate)") || plan.contains("o_orderdate"),
      s"date filter lost before the orders scan:\n$plan")
  }

  test("q4's EXISTS decorrelates to a semi-join with the cross-side residual") {
    val df = SparkEntry.queries("q4_order_priority")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the correlated EXISTS (l_shipdate vs o_orderdate spans sides)
    // must become ONE equi semi-join on orderkey carrying the date
    // inequality as a residual — never a per-order subquery or an
    // all-pairs node
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    assert(plan.contains("date_add"), s"cross-side residual missing from the join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q4 plans an all-pairs join:\n$plan")
    // the quarter predicate reaches the orders parquet scan (min/max
    // row-group pruning is the 100 TB workhorse here)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,1997-01-01"),
      s"quarter filter not pushed to the orders scan:\n$plan")
  }

  test("q7's symmetric nation pair prunes both dimension scans; the OR stays residual") {
    val df = SparkEntry.queries("q7_volume_shipping")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // nation ∈ {A,B} — the implication of the pair disjunction — must
    // be pushed into the nation scan, not evaluated after the joins
    assert(plan.contains("In(n_name, [NATION_1,NATION_2])"),
      s"nation membership not pushed to the dimension scan:\n$plan")
    // the two-year ship window prunes the fact scan
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"),
      s"ship-date window not pushed to the fact scan:\n$plan")
    // everything joins broadcast-hash; the (A→B | B→A) disjunction is a
    // residual above an equi-join, never a join strategy
    assert(plan.contains("BroadcastHashJoin"), s"dimension joins not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q7 plans an all-pairs join:\n$plan")
  }

  test("q8 computes the grouped ratio in one aggregation pass over broadcast-pruned joins") {
    val df = SparkEntry.queries("q8_market_share")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // numerator and denominator are two functions of ONE grouped
    // aggregate — a second scan or self-join here doubles the fact cost
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
    assert(plan.indexOf("HashAggregate", plan.indexOf("HashAggregate") + 1) > 0,
      s"missing partial+final aggregate pair:\n$plan")
    assert(plan.contains("LeftSemi"), s"region membership not a semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q8 plans an all-pairs join:\n$plan")
  }

  test("q11/q15 attach the global scalar by broadcast, never a shuffle") {
    for (name <- Seq("q11_important_parts", "q15_top_supplier")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // the one-row aggregate over the grouped frame must attach as a
      // broadcast (a BNLJ against one row is the benign scalar-attach
      // shape); the grouped aggregate itself partial-combines map-side
      assert(plan.contains("partial_sum"), s"$name: no map-side partial aggregation:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
        s"$name: scalar not attached by broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$name: shuffles a join:\n$plan")
    }
  }

  test("q13's ON-clause filter precedes the outer join; zero-order customers survive") {
    val df = SparkEntry.queries("q13_customer_distribution")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the priority filter must sit UNDER the left join (≡ ON clause) so
    // customers with no qualifying orders still count at zero
    assert(plan.contains("LeftOuter"), s"no outer join:\n$plan")
    assert(plan.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"ON-clause filter not pushed to the orders scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q13 plans an all-pairs join:\n$plan")
  }

  test("q16 anti-joins the exclusion set before the two-level distinct aggregate") {
    val df = SparkEntry.queries("q16_supplier_counts")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti join on the exclusion set:\n$plan")
    // countDistinct expands to partial distinct on (group, suppkey) —
    // the shuffle carries pairs, never raw lineitems
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q16 plans an all-pairs join:\n$plan")
  }

  test("q20's nested chain flattens to two aggregates and broadcast semi-joins") {
    val df = SparkEntry.queries("q20_excess_suppliers")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the per-part total is a rollup OF the (part, supplier) aggregate —
    // partial sums at both levels, no second fact scan for the inner
    // correlated subquery
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
    assert(plan.contains("LeftSemi"), s"qualifying suppliers not a semi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"semi-joins not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q20 plans an all-pairs join:\n$plan")
  }

  test("w2 domain rollup joins stay equi-keyed (no all-pairs), URL parse is in-plan string algebra") {
    val df = SparkEntry.queries("w2_domain_rollup")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"w2 plans an all-pairs join:\n$plan")
    // no UDF anywhere in the parse: the modality's 100 TB claim is
    // that URL algebra rides codegen'd builtins
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"URL parse fell out of builtin algebra:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"rollup not map-side partial-aggregated:\n$plan")
  }

  test("w3 per-domain cap windows by domain — never a single-partition sort") {
    val df = SparkEntry.queries("w3_domain_filter")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the final orderBy is a range exchange (display order); the CAP
    // window itself must hash-partition on reg_domain
    assert(plan.contains("hashpartitioning(reg_domain"),
      s"cap window not domain-partitioned:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"w3 collapsed to a single partition:\n$plan")
  }

  test("w4 recrawl dedup rides ONE URL-key exchange (both windows and verdicts share it)") {
    val df = SparkEntry.queries("w4_recrawl_dedup")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(canon_url"),
      s"last-wins window not partitioned on the canonical URL:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"w4 collapsed to a single partition:\n$plan")
    // the count window and the last-wins window share the URL-key
    // partitioning — the s14 CDC shape's one-shuffle contract; the
    // only other exchange is the display orderBy's range partitioning
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1,
      s"w4 re-shuffles between its windows ($hashEx hash exchanges):\n$plan")
  }

  test("w6 recrawl feed rides the same single URL-key exchange as w4") {
    val df = SparkEntry.queries("w6_recrawl_feed")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(canon_url"),
      s"running-max window not partitioned on the canonical URL:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"w6 collapsed to a single partition:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1,
      s"w6 re-shuffles around its window ($hashEx hash exchanges):\n$plan")
  }

  test("t58 trigram scorer: derivation joins stay equi-keyed, scalar attaches by broadcast") {
    val df = SparkEntry.queries("t58_lm3_perplexity")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"t58 plans an all-pairs join:\n$plan")
    // the only nested-loop is the 1-row (N, V) scalar attach
    assert(plan.contains("BroadcastNestedLoopJoin") == plan.contains("BuildRight, Cross"),
      s"unexpected non-scalar nested loop:\n$plan")
  }

  test("d34 index build leaves the hot anti-join un-hinted (CapGate cliff class)") {
    val spark2 = spark
    import spark2.implicits._
    // The hot set (df > 64 fingerprint hashes) is data-dependent and
    // Zipf-tailed — O(corpus_positions / 64) rows on a boilerplate-heavy
    // crawl. d26's gram build and d23's run extraction leave the same
    // anti-join un-hinted so the planner can degrade it to a shuffle
    // join; d34's build must match (r16's one forced hint, now removed).
    val fps = Seq((1L, 0, 10L), (2L, 3, 11L)).toDF("doc_id", "fp_pos", "fp_h")
    val hot = Seq(Tuple1(10L)).toDF("fp_h")
    val analyzed = graft.queries.DedupQueries.d34BuildJoin(fps, hot)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint") && !analyzed.contains("UnresolvedHint"),
      s"d34 build must not force-broadcast the data-dependent hot set:\n$analyzed")
  }

  test("s18 bucketed join is exchange- and sort-free end to end") {
    val df = graft.queries.PipelineQueries.s18Joined(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // Bucketed scans provide both the hash distribution and the
    // in-bucket sort order, so the merge join needs neither an
    // Exchange nor a Sort — the layout IS the shuffle, paid once at
    // write time. Any Exchange here means bucketing was silently
    // ignored (wrong bucket count, disabled bucketing, dropped
    // catalog metadata) and the 100 TB claim is gone.
    assert(plan.contains("SortMergeJoin"), s"s18 join is not sort-merge:\n$plan")
    assert(!plan.contains("Exchange"), s"s18 bucketed join shuffles:\n$plan")
    assert(!plan.contains("Sort "), s"s18 bucketed join re-sorts:\n$plan")
    assert(plan.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$plan")
  }
}
