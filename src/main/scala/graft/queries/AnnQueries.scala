package graft.queries

import graft.Tables
import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table
  * (builder brief): brute-force cosine top-k as the exact baseline, and
  * a random-hyperplane (sign-LSH) bucketed variant as the scale path.
  *
  * Scale notes: brute force broadcasts the QUERY side (small by
  * definition) and repartitions the corpus to the session's shuffle
  * width, so scoring spreads across all cores and the corpus shuffles
  * only that once. The LSH variant hashes the corpus once into sign
  * buckets (equi-join key), turning search into a bucket join — at
  * 100 TB you'd add multi-probe (flip low-margin bits) or IVF coarse
  * quantization; the plumbing is identical. Scoring kernels are
  * primitive JVM loops ([[graft.functions.VectorOps]]) whose strictly
  * sequential fold matches DuckDB's list_reduce bit-for-bit, which is
  * what lets x1 carry an exact hash-compared oracle.
  */
object AnnQueries {

  /** Native codegen dot product ([[graft.plans.GraftDot]]) — identical
    * sequential fold to VectorOps.dot (hash gates depend on it), minus
    * the ScalaUDF's per-call Seq boxing on the pair-scoring hot path. */
  private def dotExpr(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.GraftDot(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** norm² as graft_dot(v, v): VectorOps.norm2's Σx² has the identical
    * sequential fold order, so the swap is bit-exact. */
  private def norm2Expr(v: org.apache.spark.sql.Column) = dotExpr(v, v)

  /** 8 deterministic hyperplanes over 64 dims (256 buckets — sized so a
    * few-thousand-vector corpus still collides; more planes +
    * multi-probe at larger corpus sizes). Integer-weight planes
    * ([[VectorOps.intPlanes]]) so the projection — and hence the bucket
    * id — is reproducible in the DuckDB oracle exactly. */
  private val lshPlanes = VectorOps.intPlanes(8, 64)
  private val bucketUdf = udf((v: Seq[Double]) =>
    if (v == null) -1L else VectorOps.signBucket(v, lshPlanes))

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", norm2Expr(col("v")))

  /** Slices of the shared two-level quantizer index
    * ([[DedupQueries.cellRanks]]; design + scale contract documented
    * there): `cellAssigned` is each vector's home cell (rank-1 row),
    * `cellProbes(k)` its k-wide probe list (rank ≤ k prefix) —
    * (vec_id, v, n2, cid) rows either way. One memoized cached frame
    * backs every serving query, so the index materializes once per
    * dir and consumers are cheap relational slices. */
  private def cellAssigned(s: SparkSession, dir: String): DataFrame =
    DedupQueries.cellRanks(s, dir).filter(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cid"))

  private def cellProbes(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    DedupQueries.cellRanks(s, dir).filter(col("arn") <= nprobe)
      .select(col("vec_id"), col("v"), col("n2"), col("cid"))

  /** X17's indexed universe: one row per document that carries an
    * embedding (the membership a serving index would hold), with its
    * distinct word-3-gram shingle set. The embedding semi-join is an
    * id equi-join — at scale a broadcast of the index manifest. */
  private[graft] def x17Universe(s: SparkSession, dir: String): DataFrame =
    DedupQueries.docShinglesOf(Tables.documents(s, dir))
      .join(vecs(s, dir).select(col("vec_id").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("sh"))

  /** X17's sparse candidate proposal: distinct (qid, cid) pairs
    * sharing at least one NON-STOP shingle. Document frequency is one
    * map-side-combined aggregate over the postings; shingles with
    * df > max(8, N div 64) are dropped BEFORE the postings self-join,
    * which is what bounds every join bucket to the df cap and keeps
    * candidate growth linear in the corpus (measured: `graft.tools.Scale
    * x17`, BASELINE.md). The cap is relative (N div 64) so the same query
    * serves any corpus size; the floor of 8 keeps small fixtures from
    * capping below honest rarity. */
  /** X17's stop-shingle cap, max(8, N div 64). The corpus cardinality
    * is index METADATA (a serving index knows its own size from the
    * build manifest), so it is resolved once per (JVM, dir) and shipped
    * as a plan literal — a scalar join here would either cross-join a
    * 1-row frame (plans BroadcastNestedLoopJoin, which DedupSpec
    * forbids on serving paths) or constant-fold back into one. */
  private def x17CapFor(s: SparkSession, dir: String): Long =
    Caches.memo(s, dir, "x17_cap") {
      math.max(8L, x17Universe(s, dir).count() / 64L)
    }

  private[graft] def x17Candidates(s: SparkSession, dir: String): DataFrame = {
    val post = x17Universe(s, dir).select(col("doc_id"), explode(col("sh")).as("t"))
    val rare = post.groupBy("t").agg(count(lit(1)).cast("long").as("df"))
      .filter(col("df") <= lit(x17CapFor(s, dir)))
      .select("t")
    val qpost = post.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"), col("t"))
      .join(rare, Seq("t"), "left_semi")
    val cpost = post.select(col("doc_id").as("cid"), col("t"))
      .join(rare, Seq("t"), "left_semi")
    qpost.join(cpost, Seq("t"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
  }

  /** Native integer squared-L2 between two BIGINT arrays (codegen'd;
    * the interpreted zip_with/aggregate lambda pair cost ~1 s per
    * bench pass at sf0.1). */
  private def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.GraftL2Sq(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Shared PQ pipeline front half for x6/x7: the corpus quantized to
    * the integer grid and exploded to (vec_id, s, sub) subvector rows,
    * plus the trained 64-row codebook (s, code, csub).
    *
    * Codebook TRAINING runs on the driver over a bounded deterministic
    * sample (vec_id < 4096 → ≤16k subvector rows collected) — the
    * standard PQ design at any scale: k-means trains on a sample, the
    * corpus only ever sees the final broadcast assignment pass. (An
    * all-DataFrame Lloyd launched a broadcast job per iteration whose
    * build side re-executed every prior round — job latency, not
    * compute, dominated.) Arithmetic is the cross-engine contract:
    * seeds = the 16 lowest-id vectors' subvectors, TWO Lloyd rounds,
    * argmin by (L2², code), centroid dim = floor(sum·1.0/cnt + 0.5),
    * empty cluster keeps its centroid — the DuckDB twin replays the
    * same two rounds bit-for-bit. */
  /** Grid-quantized corpus (the PQ family's integer grid): every
    * arithmetic step downstream stays on BIGINT, which is what lets the
    * DuckDB twin replay the whole training bit-for-bit. */
  /** coalesce(x, 0): a null ELEMENT would make qv's BIGINT slot null,
    * and the kernels' Seq[Long] deserializer asserts non-null primitives
    * — it throws before any UDF-body null guard can run. Admission drops
    * null-element rows, but Catalyst may evaluate an inferred
    * isnotnull(UDF(qv)) predicate AHEAD of the admission conjuncts on
    * raw scan rows (the Tables.embeddings ordering hazard), so qv must
    * be total on rows that are about to be dropped. Identity on every
    * admitted row — hash gates unchanged. */
  private def kmQuantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(floor(CAST(coalesce(x, CAST(0 AS FLOAT)) AS DOUBLE) * 64 + 0.5) AS BIGINT))").as("qv"))

  /** Integer-L2 (d², code) to every closure-shipped centroid — shared
    * by x14's argmin assignment and x16's probe lists; the (d, code)
    * tuple order IS the oracle's `ORDER BY d, code` tie-break. */
  private def kmDistances(cents: Array[(Long, Array[Long])], v: Seq[Long]): Array[(Long, Long)] = {
    // null-tolerant for the same inferred-predicate reason as
    // DedupQueries.nearestCells
    if (v == null) return Array.empty
    val arr = v.toArray
    cents.map { case (code, cv) =>
      var t = 0L; var i = 0
      while (i < arr.length) { val d = arr(i) - cv(i); t += d * d; i += 1 }
      (t, code)
    }
  }

  /** Argmin over [[kmDistances]] → (winning code, d²). */
  private def kmKernel(cents: Array[(Long, Array[Long])]): Seq[Long] => (Long, Long) =
    (v: Seq[Long]) => {
      val ds = kmDistances(cents, v)
      if (ds.isEmpty) (-1L, 0L) // null vector / empty codebook sentinel
      else { val (d, code) = ds.min; (code, d) }
    }

  /** Distributed Lloyd over the FULL corpus — the at-scale counterpart
    * of [[trainCodebook]]'s bounded-sample collect: each round is one
    * map-side assignment pass (centroids broadcast in the kernel
    * closure — model state is K×D longs, the only thing the driver ever
    * holds) plus one (code, dim)-keyed aggregate whose K·D distinct
    * keys give every partition a near-total map-side combine. No
    * corpus collect, no N×K join node; this is how a 1000-executor
    * cluster trains its IVF coarse quantizer. Seeds = the vec_id < 16
    * vectors (code = vec_id, the PQ prologue's convention); two
    * rounds; mean on the integer grid floor(Σ/n + 0.5); an empty
    * cluster keeps its previous centroid. */
  /** X19's persisted index artifact: the two-level cell ranking landed
    * as parquet PARTITIONED BY cid, written once per (JVM, source dir)
    * under the s15/s20 landing contract. Only (vec_id, cid, arn) land —
    * vectors stay in the vector store and serve-time joins them back by
    * id, which is what keeps the artifact small (24 bytes/row·probe)
    * and the serve plan scan-shaped. */
  private def indexLandingFor(s: SparkSession, dir: String): String =
    Caches.landed(s, dir, "x19") { l =>
      DedupQueries.cellRanks(s, dir).select(col("vec_id"), col("cid"), col("arn"))
        .write.mode("overwrite").partitionBy("cid").parquet(l.path)
      l.path
    }

  /** x21's compacted artifact: the x19 landing REWRITTEN with the
    * tombstoned rows (x20's deletion feed, vec_id % 37 == 1) dropped —
    * the maintenance step that runs on the append cadence once the
    * tombstone fraction justifies the rewrite, after which serves pay
    * neither the predicate nor the dead rows' scan bytes. Reads the
    * landed x19 files (never recomputes the quantizer) and lands the
    * survivor rows cid-partitioned exactly like its input. */
  private def compactedLandingFor(s: SparkSession, dir: String): String =
    Caches.landed(s, dir, "x21") { l =>
      s.read.schema(x19ArtifactSchema).parquet(indexLandingFor(s, dir))
        .filter(col("vec_id") % 37 =!= 1)
        .write.mode("overwrite").partitionBy("cid").parquet(l.path)
      l.path
    }

  /** X22's landed artifact: the TRAINED (Lloyd) quantizer's probe
    * ranking — x16's cell assignment and 4-wide probe lists written
    * once per (JVM, dir) as cid-partitioned parquet, closing the gap
    * where only the unsupervised two-level index (x19) had the
    * build-once/serve-many contract while the index a production
    * system actually TRAINS was recomputed per JVM. Training (the
    * kmTrain rounds) runs exactly once, at landing time; the landed
    * rows are (vec_id, arn, cid) — same 24-byte schema as x19, so the
    * whole serve/tombstone/compact machinery applies unchanged. */
  private def trainedLandingFor(s: SparkSession, dir: String): String =
    Caches.landed(s, dir, "x22") { l =>
      probeRanks(kmTrain(s, dir), kmQuantized(s, dir))
        .write.mode("overwrite").partitionBy("cid").parquet(l.path)
      l.path
    }

  /** The (vec_id, arn, cid) rows of each quantized row's top-4 probe
    * cells under `cents`. Probe order = training's own metric: L2² on
    * the integer grid, ties to the smaller code (kmDistances tuples
    * sort (d, code)). */
  private def probeRanks(cents: Array[(Long, Array[Long])], rows: DataFrame): DataFrame = {
    val probesU = udf((v: Seq[Long]) =>
      kmDistances(cents, v).sorted.take(4).map(_._2).zipWithIndex
        .map { case (code, i) => (i + 1, code) }.toSeq)
    rows.select(col("vec_id"), explode(probesU(col("qv"))).as("p"))
      .select(col("vec_id"), col("p._1").as("arn"), col("p._2").as("cid"))
  }

  /** X24's landed artifact: the OLD-trained index over the OLD corpus —
    * centroids from [[kmTrainOld]] (trained on vec_id % 5 != 4 ONLY,
    * x18's frozen-index convention), probe rankings for the old rows,
    * landed cid-partitioned like x22's. The append path then assigns
    * ONLY the delta against these frozen centroids — training never
    * re-runs, the landed files never rewrite. */
  private def trainedOldLandingFor(s: SparkSession, dir: String): String =
    Caches.landed(s, dir, "x24") { l =>
      probeRanks(kmTrainOld(s, dir), kmQuantized(s, dir).filter(col("vec_id") % 5 =!= 4))
        .write.mode("overwrite").partitionBy("cid").parquet(l.path)
      l.path
    }

  /** x19/x20's landed-artifact schema, declared so an EMPTY corpus
    * (fileless landing dir) reads as zero rows instead of a
    * schema-inference error. */
  private val x19ArtifactSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("arn",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType)))

  /** Read a landed (vec_id, arn, cid) rank artifact with the explicit
    * writer schema (empty-corpus landings are fileless — s15's trap). */
  private def landedRanks(s: SparkSession, path: String): DataFrame =
    s.read.schema(x19ArtifactSchema).parquet(path)

  /** x20/x23's serve-time deletion feed: tombstoned vectors neither
    * serve as neighbors nor issue queries; the predicate rides the
    * artifact scan (no file rewrite — that's x21's compaction). */
  private def notTombstoned: org.apache.spark.sql.Column = col("vec_id") % 37 =!= 1

  /** THE landed-index serve plan, shared by x19–x24: pure relational
    * work over a (vec_id, arn, cid) rank frame — nearest-cell members
    * and probe lists filtered off the same scan, id equi-joins back to
    * the vector store, broadcast probe × cell-members equi-join, rank
    * window top-5. No quantizer kernel, no UDF, no training anywhere
    * in the serve plan; the six lifecycle gates differ ONLY in where
    * `ranks` comes from (landed / filtered / compacted / delta-union)
    * and the probe width. */
  private def serveLanded(s: SparkSession, dir: String, ranks: DataFrame,
      nprobe: Int): DataFrame = {
    val e = vecs(s, dir)
    val assigned = ranks.filter(col("arn") === 1)
      .select(col("vec_id").as("nid"), col("cid"))
      .join(e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2")), Seq("nid"))
    val probes = ranks.filter(col("arn") <= nprobe && col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("cid"))
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2")), Seq("qid"))
    topK(broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("qid") =!= col("nid")), 5)
  }

  /** Trained-codebook seed modulus: K ≈ √N seeds at residue 3 mod
    * (N div ⌈√N⌉). K grows with the corpus — cell size grows only as
    * √N instead of linearly (a fixed seed set makes x16's serving
    * candidates ∝ N²/K at scale) — while the driver still holds just
    * K×D longs ∝ √N, the same sub-linear contract as the serving
    * family's coarse level. The residue folds (3 % m) so degenerate
    * corpora (m ≤ 3) still seed. */
  private def kmSeedPred(n: Long): org.apache.spark.sql.Column = {
    val k = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong) // n=0 safe
    val m = math.max(1L, n / k)
    col("vec_id") % m === (3L % m)
  }

  /** X14 trained centroids per fixture dir — distributed Lloyd is
    * deterministic in the input, so training once per (JVM, dir) is
    * observationally identical to retraining per query (the PQ
    * codebook's contract). */
  private def kmTrain(s: SparkSession, dir: String): Array[(Long, Array[Long])] =
    Caches.memo(s, dir, "km_cents") {
      val q = kmQuantized(s, dir)
      kmTrainImpl(s, q, kmSeedPred(q.count()))
    }

  /** x18's frozen index: centroids trained ONLY on the pre-append
    * corpus (vec_id % 5 != 4), K ≈ √N_old seeds via [[kmSeedPred]]. */
  private def kmTrainOld(s: SparkSession, dir: String): Array[(Long, Array[Long])] =
    Caches.memo(s, dir, "km_cents_old") {
      val qold = kmQuantized(s, dir).filter(col("vec_id") % 5 =!= 4)
      kmTrainImpl(s, qold, kmSeedPred(qold.count()))
    }

  private def kmTrainImpl(s: SparkSession, q: DataFrame,
      seed: org.apache.spark.sql.Column): Array[(Long, Array[Long])] = {
      import s.implicits._
      var cents: Array[(Long, Array[Long])] = q.filter(seed)
        .as[(Long, Array[Long])].collect().sortBy(_._1)
      for (_ <- 1 to 2) {
        val kernel = kmKernel(cents)
        val assignU = udf((v: Seq[Long]) => kernel(v)._1)
        val idx = cents.iterator.map(_._1).zipWithIndex.toMap
        val next = cents.map { case (code, cv) => (code, cv.clone) }
        q.withColumn("code", assignU(col("qv")))
          .select(col("code"), posexplode(col("qv")).as(Seq("i", "x")))
          .groupBy("code", "i")
          .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
          .collect()
          .foreach { r =>
            next(idx(r.getLong(0)))._2(r.getInt(1)) =
              math.floor(r.getLong(2) * 1.0 / r.getLong(3) + 0.5).toLong
          }
        cents = next
      }
      cents
  }

  private def pqParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    // coalesce(x, 0): total on doomed null-element rows — see kmQuantized
    val q = Tables.embeddings(s, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(floor(CAST(coalesce(x, CAST(0 AS FLOAT)) AS DOUBLE) * 64 + 0.5) AS BIGINT))").as("qv"))
    val subs = q.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 3), s -> slice(qv, s * 16 + 1, 16))")).as(Seq("s", "sub")))
    // the driver-side k-means is deterministic in the input, so
    // training once per (JVM, dir) is observationally identical to
    // retraining per query (x6/x7/x8 all share it; the bench otherwise
    // pays the collect+train 3× per pass)
    val cbRows = Caches.memo(s, dir, "pq_codebook")(trainCodebook(subs))
    (subs, cbRows.toDF("s", "code", "csub"))
  }

  private def trainCodebook(subsDf: DataFrame): Seq[(Int, Long, Seq[Long])] = {
    import subsDf.sparkSession.implicits._
    val train = subsDf.filter(col("vec_id") < 4096)
      .select(col("vec_id"), col("s"), col("sub"))
      .as[(Long, Int, Array[Long])].collect()
    val dim = 16
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var t = 0L; var i = 0
      while (i < dim) { val d = a(i) - b(i); t += d * d; i += 1 }
      t
    }
    // seeds cloned — the update step mutates centroids in place and
    // must not corrupt the training rows they were seeded from
    val cent: Array[Array[Array[Long]]] = Array.tabulate(4) { sp =>
      train.filter(t => t._2 == sp && t._1 < 16).sortBy(_._1).map(_._3.clone)
    }
    // k = seeds per subspace (16 on any real corpus; fewer on a tiny or
    // empty slice — an empty corpus trains an empty codebook and every
    // consumer degrades to an empty result instead of crashing)
    val k = cent(0).length
    for (_ <- 1 to 2; sp <- 0 until 4; if k > 0) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val cnts = new Array[Long](k)
      train.foreach { case (_, tsp, sub) =>
        if (tsp == sp) {
          var best = 0; var bd = l2(sub, cent(sp)(0)); var c = 1
          while (c < k) { // ascending code: ties keep the smaller
            val d = l2(sub, cent(sp)(c)); if (d < bd) { bd = d; best = c }; c += 1
          }
          cnts(best) += 1
          var i = 0
          while (i < dim) { sums(best)(i) += sub(i); i += 1 }
        }
      }
      for (c <- 0 until k if cnts(c) > 0; i <- 0 until dim)
        cent(sp)(c)(i) = math.floor(sums(c)(i) * 1.0 / cnts(c) + 0.5).toLong
    }
    (for (sp <- 0 until 4; c <- 0 until k)
      yield (sp, c.toLong, cent(sp)(c).toSeq)).toList
  }

  /** Broadcast PQ code assignment: one map-side pass over the corpus
    * subvectors, argmin by (L2², code) as a partial-aggregating
    * min-struct — returns (vec_id, s, code, d). */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("s"))
      .withColumn("d", l2sq(col("sub"), col("csub")))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d"), col("code"))).as("_b"))
      .select(col("vec_id"), col("s"), col("_b.code").as("code"), col("_b.d").as("d"))

  /** Shared IVF+PQ compressed-domain scan (x9/x11): cell assignment and
    * `nprobe`-wide query probe lists sliced from the shared two-level
    * index ([[DedupQueries.cellRanks]]), per-query ADC distance tables broadcast onto
    * the cell-restricted code rows, partial-aggregated 4-lookup sums.
    * Returns (qid, nid, adc_d) — callers rank (x9) or rerank (x11). */
  private def ivfPqAdc(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val assigned = cellAssigned(s, dir).select(col("vec_id").as("nid"), col("cid"))
    val probes = cellProbes(s, dir, nprobe).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("cid"))
    val (subs, cb) = pqParts(s, dir)
    val codes = pqAssign(subs, cb)
      .select(col("vec_id").as("nid"), col("s"), col("code"))
    val dt = subs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("s"), col("sub"))
      .join(broadcast(cb), Seq("s"))
      .select(col("qid"), col("s"), col("code"), l2sq(col("sub"), col("csub")).as("d"))
    val cand = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    cand.join(codes, Seq("nid"))
      .join(broadcast(dt), Seq("qid", "s", "code"))
      .groupBy("qid", "nid").agg(sum("d").as("adc_d"))
  }

  private def topK(joined: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
    joined
      .withColumn("cosine", dotExpr(col("qv"), col("nv")) / sqrt(col("qn2") * col("nn2")))
      // project the vectors away BEFORE the rank window: the window's
      // hash exchange otherwise ships both 64-double arrays (~1 KB) per
      // candidate pair instead of 24 bytes — at sf0.1 that is the
      // difference between shuffling ~500 MB and ~12 MB for x1.
      .select(col("qid"), col("nid"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("cosine"), 4).as("cosine"))
      .orderBy("qid", "rank")
  }

  val queries: Map[String, QueryFn] = Map(
    // ---- X1: brute-force cosine top-5 per query vector ----
    "x1_ann_brute" -> ((s, dir) => {
      val width = s.conf.get("spark.sql.shuffle.partitions").toInt
      val e = vecs(s, dir)
      val queriesDf = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      val corpus = e.select(col("vec_id").as("nid"), col("v").as("nv"), col("n2").as("nn2"))
        .repartition(width)
      topK(broadcast(queriesDf).join(corpus, col("qid") =!= col("nid")), 5)
    }),

    // ---- X3: IVF coarse quantization — every vector is assigned to its
    // nearest centroid (a deterministic subset of the corpus), and a
    // query probes only its own centroid's cell. Pure joins + argmax
    // windows, so the whole index build AND search is hash-gated against
    // DuckDB. nprobe=1 here; more probes = relax the cell equi-join. ----
    "x3_ann_ivf" -> ((s, dir) => {
      val width = s.conf.get("spark.sql.shuffle.partitions").toInt
      // nearest cell per vector (argmax cosine, smallest cid on ties)
      // from the shared two-level quantizer index
      val assigned = cellAssigned(s, dir)
      val queriesDf = assigned.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"), col("cid"))
      val corpus = assigned.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2"), col("cid")).repartition(width)
      topK(broadcast(queriesDf).join(corpus,
        Seq("cid")).filter(col("qid") =!= col("nid")), 5)
    }),

    // ---- X4: IVF multi-probe (nprobe=8) + recall@5 against the exact
    // brute-force answer — the measurement that makes an ANN index
    // credible: per query, how many TRUE top-5 neighbors does probing
    // the nprobe nearest cells recover? The fixture's embeddings are
    // uniform random (no cluster structure), so recall tracks the
    // fraction of cells probed (measured: 0.46 at 2/10 → 0.94 at 8/10),
    // exactly as theory predicts for unclustered data; on real clustered
    // embeddings the same machinery reaches high recall at small nprobe.
    // Fully SQL-expressible → hash-gated; DedupSpec asserts avg ≥ 0.9. ----
    "x4_ann_ivf_recall" -> ((s, dir) => {
      val width = s.conf.get("spark.sql.shuffle.partitions").toInt
      val e = vecs(s, dir)
      // corpus membership: every vector lives in its single nearest cell
      val assigned = cellAssigned(s, dir)
        .select(col("vec_id").as("nid"), col("v").as("nv"),
          col("n2").as("nn2"), col("cid"))
      // queries probe their nprobe nearest cells (multi-probe)
      val probes = cellProbes(s, dir, nprobe = 8).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"), col("cid"))
      val ivfTop = topK(broadcast(probes).join(assigned, Seq("cid"))
        .filter(col("qid") =!= col("nid")), 5)
      // exact answer (x1's plan)
      val queriesDf = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      val corpus = e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2")).repartition(width)
      val bruteTop = topK(broadcast(queriesDf)
        .join(corpus, col("qid") =!= col("nid")), 5)
      val hits = bruteTop.select("qid", "nid")
        .join(ivfTop.select("qid", "nid"), Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      bruteTop.select("qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / 5.0, 4).as("recall"))
        .orderBy("qid")
    }),

    // ---- X5: symmetric int8 scalar quantization — the memory-
    // compression stage that makes a 100 TB vector corpus fit an ANN
    // serving tier (4× smaller than float32, 8× than the double work
    // rep). Per vector: scale = 127/max|x|, q_i = floor(x_i·scale+0.5)
    // clamped to ±127, plus reconstruction RMSE. floor(x+0.5) instead
    // of round() keeps the halfway-tie behavior a single deterministic
    // double expression both engines evaluate identically; the RMSE
    // fold is strictly sequential, matching DuckDB's list_reduce. ----
    "x5_quantize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("scale", lit(127.0) / array_max(transform(col("v"), x => abs(x))))
        .withColumn("qv", transform(col("v"),
          x => greatest(least(floor(x * col("scale") + lit(0.5)), lit(127L)), lit(-127L))))
      e.select(col("vec_id"),
          round(col("scale"), 4).as("scale"),
          size(filter(col("qv"), q => abs(q) === 127)).as("n_clipped"),
          round(sqrt(
            aggregate(zip_with(col("v"), col("qv"),
                (x, q) => (x - q / col("scale")) * (x - q / col("scale"))),
              lit(0.0), (acc, d) => acc + d) / size(col("v"))), 6).as("rmse"))
        .orderBy("vec_id")
    }),

    // ---- X6: product quantization — the codebook stage after X5's
    // scalar quantization on the 100 TB memory-compression path: 64
    // dims → 4 subspaces × 16 codes ≈ 2 bytes/vector for the coarse
    // rep. Codebook training is a deterministic k-means: seeds = the 16
    // lowest-id vectors' quantized subvectors, then TWO fixed Lloyd
    // iterations whose centroids stay on the integer grid
    // (floor(mean + 0.5) — the cross-engine-exact rounding idiom), so
    // the DuckDB twin reproduces every centroid and assignment
    // bit-for-bit; empty clusters keep their previous centroid.
    // All-integer distances (vectors pre-quantized to BIGINT grid
    // points), argmin by (L2², code). Scale: each Lloyd round is one
    // broadcast assignment pass + a 64-key centroid aggregate (the
    // classic distributed k-means shape); the final codebook (64 rows)
    // broadcasts; assignment is a map-side pass over the corpus — no
    // shuffle until the tiny per-vector regroup. AnnSpec pins that the
    // refined codebook's total reconstruction error improves on the
    // seed codebook's. ----
    "x6_pq_assign" -> ((s, dir) => {
      val (subs, cb) = pqParts(s, dir)
      // Final assignment: ONE broadcast pass over the corpus; argmin as
      // a partial-aggregating min-struct (map-side fold of the 16 codes
      // — no window shuffle of the vectors×codes pairs), distance via
      // the native graft_l2sq expression (the interpreted
      // zip_with/aggregate lambda pair cost ~1 s per pass at sf0.1).
      pqAssign(subs, cb)
        .groupBy("vec_id").agg(
          max(when(col("s") === 0, col("code"))).as("c0"),
          max(when(col("s") === 1, col("code"))).as("c1"),
          max(when(col("s") === 2, col("code"))).as("c2"),
          max(when(col("s") === 3, col("code"))).as("c3"),
          sum("d").as("err"))
        .orderBy("vec_id")
    }),

    // ---- X7: PQ asymmetric-distance (ADC) top-5 search — the payoff
    // of x6's compression: the corpus is reduced to its 4 one-byte
    // codes, and each query precomputes a 4×16 distance TABLE to the
    // codebook; scanning a candidate then costs 4 integer table
    // lookups instead of a 64-dim kernel, which is what makes a
    // 100 TB corpus scannable from the compressed representation
    // alone. Plan shape: the distance tables (|queries|·64 rows of
    // three ints) BROADCAST; the corpus's (vec_id, s, code) long form
    // equi-joins them on (s, code) — a map-side hash join, no corpus
    // shuffle — and a partial-aggregating sum folds the 4 subspace
    // lookups per (query, candidate) pair before the single regroup
    // exchange. All-integer distances end-to-end → hash-gated against
    // the DuckDB twin, which replays training + assignment + the same
    // table-lookup join. AnnSpec pins ADC-vs-exact rank agreement. ----
    "x7_pq_adc" -> ((s, dir) => {
      val (subs, cb) = pqParts(s, dir)
      val codes = pqAssign(subs, cb)
        .select(col("vec_id").as("nid"), col("s"), col("code"))
      // per-query distance table: query subvectors × 64 codebook rows
      val dt = subs.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("s"), col("sub"))
        .join(broadcast(cb), Seq("s"))
        .select(col("qid"), col("s"), col("code"), l2sq(col("sub"), col("csub")).as("d"))
      val w = Window.partitionBy("qid").orderBy(col("adc_d").asc, col("nid").asc)
      codes.join(broadcast(dt), Seq("s", "code"))
        .filter(col("qid") =!= col("nid"))
        .groupBy("qid", "nid").agg(sum("d").as("adc_d"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("nid"), col("adc_d"))
        .orderBy("qid", "rank")
    }),

    // ---- X8: two-stage PQ retrieve → exact re-rank — the standard
    // serving pattern that fixes ADC's lossiness: stage 1 scans the
    // compressed corpus for a generous ADC top-20 (x7's plan, lookup
    // tables broadcast, WindowGroupLimit caps the exchange), stage 2
    // fetches ONLY those ≤ 20·|queries| candidates' full vectors and
    // re-ranks by exact cosine to a final top-5. At 100 TB stage 2's
    // fetch is a broadcast of the tiny candidate list onto the vector
    // store — the full-precision corpus is touched for a few hundred
    // rows per query, never scanned. Exact arithmetic end-to-end
    // (integer ADC, then the same sequential-fold cosine as x1) →
    // hash-gated. ----
    "x8_pq_rerank" -> ((s, dir) => {
      val (subs, cb) = pqParts(s, dir)
      val codes = pqAssign(subs, cb)
        .select(col("vec_id").as("nid"), col("s"), col("code"))
      val dt = subs.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("s"), col("sub"))
        .join(broadcast(cb), Seq("s"))
        .select(col("qid"), col("s"), col("code"), l2sq(col("sub"), col("csub")).as("d"))
      val aw = Window.partitionBy("qid").orderBy(col("adc_d").asc, col("nid").asc)
      val cand = codes.join(broadcast(dt), Seq("s", "code"))
        .filter(col("qid") =!= col("nid"))
        .groupBy("qid", "nid").agg(sum("d").as("adc_d"))
        .withColumn("arn", row_number().over(aw))
        .filter(col("arn") <= 20)
        .select(col("qid"), col("nid"))
      val e = vecs(s, dir)
      // only the ~2% query rows broadcast — broadcasting the unfiltered
      // corpus here would ship the full-precision vector table to every
      // task at scale (the filter is also what the stage-2 comment
      // below promises)
      val qv = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      val nv = e.select(col("vec_id").as("nid"), col("v").as("nv"), col("n2").as("nn2"))
      val rw = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
      broadcast(cand).join(nv, Seq("nid"))
        .join(broadcast(qv), Seq("qid"))
        .withColumn("cosine", dotExpr(col("qv"), col("nv")) / sqrt(col("qn2") * col("nn2")))
        .select(col("qid"), col("nid"), col("cosine"))
        .withColumn("rank", row_number().over(rw))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("cosine"), 4).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // ---- X9: IVF+PQ — the FAISS-style composition that IS the 100 TB
    // ANN serving architecture: IVF cells bound WHICH candidates a
    // query touches (multi-probe nprobe=4 over x3's centroids), PQ
    // codes bound WHAT is read per candidate (x6's 2-byte codes, x7's
    // ADC tables). The full-precision corpus appears only in the
    // one-off index build; search touches cell-restricted code rows
    // scored by 4 integer lookups. Plan: cell membership and probe
    // lists come from the broadcast-centroid argmax (x3's shape), the
    // probe list and ADC tables broadcast, candidates flow map-side
    // into the partial-aggregated ADC sum. Cosine cell assignment is
    // the same exact-double kernel as x3 and the ADC is all-BIGINT →
    // hash-gated end-to-end. ----
    "x9_ivf_pq" -> ((s, dir) => {
      val w = Window.partitionBy("qid").orderBy(col("adc_d").asc, col("nid").asc)
      ivfPqAdc(s, dir, nprobe = 4)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("nid"), col("adc_d"))
        .orderBy("qid", "rank")
    }),

    // ---- X11: the PRODUCTION serving path — IVF+PQ retrieve + exact
    // re-rank, composing the two fixes x10's honest recall decomposition
    // names: nprobe=9 probes close the cell-miss loss, and an
    // exact-cosine re-rank of the ADC top-250 closes the 2-byte-code
    // ranking loss. Parameter honesty: the fixture's uniform-random
    // vectors are the adversarial case — ADC ranking carries little
    // signal there (x10 documents why), so the rerank depth must reach
    // well into the candidate list to recover true neighbors (measured
    // at sf0.01: depth 20 → 0.42, 250 → 0.96 recall@5); on clustered
    // production embeddings the same composition reaches this recall at
    // depths of tens. The ARCHITECTURE is the point: the corpus is
    // scanned compressed (4 integer lookups/candidate), and the
    // full-precision store is touched for only depth·|queries| rows —
    // never scanned. QualitySpec gates recall@5 ≥ 0.9 vs x1 at sf0.01.
    // Hash-gated end-to-end (integer ADC + the same sequential-fold
    // cosine as x1). ----
    "x11_ivf_pq_rerank" -> ((s, dir) => {
      val aw = Window.partitionBy("qid").orderBy(col("adc_d").asc, col("nid").asc)
      val cand = ivfPqAdc(s, dir, nprobe = 9)
        .withColumn("arn", row_number().over(aw))
        .filter(col("arn") <= 250)
        .select(col("qid"), col("nid"))
      val e = vecs(s, dir)
      val qv = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      val nv = e.select(col("vec_id").as("nid"), col("v").as("nv"), col("n2").as("nn2"))
      val rw = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid").asc)
      broadcast(cand).join(nv, Seq("nid"))
        .join(broadcast(qv), Seq("qid"))
        .withColumn("cosine", dotExpr(col("qv"), col("nv")) / sqrt(col("qn2") * col("nn2")))
        .select(col("qid"), col("nid"), col("cosine"))
        .withColumn("rank", row_number().over(rw))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("cosine"), 4).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // ---- X10: IVF+PQ recall@5 — the measurement that makes the
    // compressed serving path credible: per query, how many TRUE
    // top-5 neighbors (x1's exact answer) does the x9 pipeline
    // recover? Separates the two loss sources a 100 TB deployment
    // tunes independently: cell misses (raise nprobe) vs ADC ranking
    // error (raise code budget / rerank depth). Measured on this
    // fixture: 0.2 avg — the fixture's embeddings are uniform random
    // (no cluster structure), so probing 4/10 cells bounds recall at
    // ~0.4 (x4 measures 0.46 for IVF-exact at comparable coverage) and
    // the 2-byte ADC ranking inside the candidate set costs the rest;
    // the production fix is exactly x8's rerank stage on x9's
    // candidates. The number that GUARDS the pipeline lives in
    // QualitySpec: on a clustered fixture (101 micro-clusters of 6
    // near-identical vectors — the production shape) the same
    // measurement gates at ≥ 0.8 recall@5 (measured 1.0). Pure join +
    // count over two gated results → hash-gated itself. ----
    "x10_pq_recall" -> ((s, dir) => {
      val ivfpq = queries("x9_ivf_pq")(s, dir).select("qid", "nid")
      val brute = queries("x1_ann_brute")(s, dir).select("qid", "nid")
      val hits = brute.join(ivfpq, Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      brute.select("qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / 5.0, 4).as("recall"))
        .orderBy("qid")
    }),

    // ---- X12: metadata-FILTERED ANN — the production serving pattern
    // where a query carries a predicate over document metadata
    // ("only src1-src5 results"). Ordering matters at scale: the
    // predicate lands on the candidate stream BEFORE any scoring
    // (pre-filter), so the probe budget is spent only on admissible
    // neighbors — post-filtering a fixed top-k loses recall whenever
    // the filter is selective. Shape: IVF multi-probe (nprobe=8, the
    // coverage x4 measured ≥ 0.9) restricted by a semi-join against
    // the allowed doc set (metadata joins on the corpus key — at
    // 100 TB that is a broadcast of the filter's id set or a bucketed
    // equi-join, never a scan of the vector table). Exact cosine on
    // the surviving candidates → hash-gated end-to-end. ----
    "x12_ann_filtered" -> ((s, dir) => {
      val allowed = Tables.documents(s, dir)
        .filter(col("source").isin("src1", "src2", "src3", "src4", "src5"))
        .select(col("doc_id").as("nid"))
      val assigned = cellAssigned(s, dir)
        .select(col("vec_id").as("nid"), col("v").as("nv"), col("n2").as("nn2"),
          col("cid"))
        .join(allowed, Seq("nid"), "left_semi")
      val probes = cellProbes(s, dir, nprobe = 8).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
          col("cid"))
      topK(broadcast(probes).join(assigned, Seq("cid"))
        .filter(col("qid") =!= col("nid")), 5)
    }),

    // ---- X13: semantic kNN graph — top-3 neighbor lists per vector
    // over d14's verified edge set, the batch artifact that feeds
    // curation jobs (label propagation, cluster-aware sampling,
    // diversity scoring). Composition is the scale story: the edges
    // are already the IVF-candidate + exact-verify output (built once
    // per corpus, memoized), so the graph costs one symmetric union +
    // a per-node top-k — a key-partitioned window over O(edges) rows,
    // never over O(N²). Thresholded edges (cos ≥ 0.45) keep the oracle
    // exact: the DuckDB twin is d5's all-pairs SQL + the same rank
    // window, so the hash gate inherits d14's 100%-recall proof on the
    // gate fixtures. ----
    "x13_knn_graph" -> ((s, dir) => {
      val e = DedupQueries.d14EdgesFor(s, dir)
      val sym = e.select(col("id1").as("vec_id"), col("id2").as("nid"), col("cosine"))
        .unionByName(e.select(col("id2").as("vec_id"), col("id1").as("nid"), col("cosine")))
      val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nid").asc)
      sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("vec_id"), col("rank"), col("nid"), col("cosine"))
        .orderBy("vec_id", "rank")
    }),

    // ---- X15: IVF cell-balance audit — the index-health check run
    // after building a coarse quantizer: per-cell population and its
    // basis-point share of the corpus. A skewed cell is a hot
    // partition at serving time (every probe touching it scans its
    // whole posting list), so this is the operational query that
    // decides when to re-train or split cells. Assignment is the
    // shared cellRanks index's rank-1 slice, then one count aggregate
    // and one broadcast scalar join — integer shares via div, so the
    // gate is exact. ----
    "x15_ivf_balance" -> ((s, dir) => {
      val assigned = cellAssigned(s, dir).select(col("vec_id"), col("cid"))
      val counts = assigned.groupBy("cid")
        .agg(count(lit(1)).cast("long").as("n_vecs"))
      val tot = assigned.agg(count(lit(1)).cast("long").as("n_total"))
      counts.crossJoin(broadcast(tot))
        .select(col("cid"), col("n_vecs"),
          expr("(10000 * n_vecs) div n_total").as("share_bp"))
        .orderBy("cid")
    }),

    // ---- X16: IVF serving over the TRAINED coarse quantizer — closes
    // the loop x14 opens: the same memoized Lloyd centroids become the
    // cell index (real deployments train their IVF lists; the %50
    // sample the rest of the x-family uses is the bootstrap). Cell
    // assignment and 4-wide probe lists are one map-side pass over the
    // closure-shipped K×D integer centroids (argmin L2² on the grid,
    // ties to the smaller code — training's own metric), candidates
    // are the probe×assignment equi-join (a point lives in ONE cell,
    // so no pair dedup), and ranking is exact cosine over full
    // precision. The oracle replays training AND serving end-to-end:
    // one hash gate over the whole train→index→search pipeline. ----
    "x16_trained_ivf" -> ((s, dir) => {
      val width = s.conf.get("spark.sql.shuffle.partitions").toInt
      val cents = kmTrain(s, dir)
      val probesU = udf((v: Seq[Long]) =>
        kmDistances(cents, v).sorted.take(4).map(_._2).toSeq)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("n2", norm2Expr(col("v")))
        .withColumn("qv", expr(
          // coalesce: total on doomed null-element rows — see kmQuantized
          "transform(v, x -> CAST(floor(coalesce(x, CAST(0 AS DOUBLE)) * 64 + 0.5) AS BIGINT))"))
        .withColumn("cells", probesU(col("qv")))
      val assigned = e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2"), element_at(col("cells"), 1).as("code")).repartition(width)
      val queriesDf = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
          explode(col("cells")).as("code"))
      topK(broadcast(queriesDf).join(assigned, Seq("code"))
        .filter(col("qid") =!= col("nid")), 5)
    }),

    // ---- X17: hybrid retrieval — sparse proposes, dense re-scores,
    // reciprocal-rank fusion combines. The production search-stack
    // shape (BM25 retrieve → embedding rerank → RRF): candidates come
    // from an INVERTED-INDEX equi-join on word-3-gram shingles with a
    // relative df-cap — shingles appearing in more than max(8, N/64)
    // docs are stop-shingles and never enter the postings join (the
    // standard BM25/IDF pruning; a pair sharing ONLY stop-shingles is
    // not lexically similar), which is what bounds posting-bucket
    // sizes and keeps candidate growth linear in the corpus
    // (measured: `graft.tools.Scale x17` / BASELINE.md). Lexical overlap is then
    // computed EXACTLY over the full shingle sets for every surviving
    // candidate (d3's propose-cheap/verify-exact discipline), cosine
    // re-scores only those candidates via id equi-joins, and the two
    // ranks fuse as Σ 1/(60+r) — k=60, the canonical RRF constant.
    // Exactness: the RRF score is ONE addition of two correctly-
    // rounded doubles, and both rank orders break ties on candidate
    // id, so the whole fusion is hash-gated. The universe is the
    // indexed subset (docs carrying an embedding — at sf0.1 only ids
    // < 2000 do, exactly the items a serving index would hold). ----
    "x17_hybrid_rrf" -> ((s, dir) => {
      val universe = x17Universe(s, dir)
      val overlap = x17Candidates(s, dir)
        .join(universe.select(col("doc_id").as("qid"), col("sh").as("shq")), Seq("qid"))
        .join(universe.select(col("doc_id").as("cid"), col("sh").as("shc")), Seq("cid"))
        .select(col("qid"), col("cid"),
          size(array_intersect(col("shq"), col("shc"))).cast("long").as("overlap"))
      val e = vecs(s, dir)
      val scored = overlap
        .join(e.select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2")), Seq("qid"))
        .join(e.select(col("vec_id").as("cid"), col("v").as("cv"), col("n2").as("cn2")), Seq("cid"))
        .withColumn("cosine", dotExpr(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
      scored
        .withColumn("r_lex", row_number().over(
          Window.partitionBy("qid").orderBy(col("overlap").desc, col("cid").asc)).cast("long"))
        .withColumn("r_vec", row_number().over(
          Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid").asc)).cast("long"))
        .withColumn("rrf", round(
          lit(1.0) / (lit(60.0) + col("r_lex")) + lit(1.0) / (lit(60.0) + col("r_vec")), 6))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("rrf").desc, col("cid").asc)).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("cid"), col("overlap"),
          round(col("cosine"), 4).as("cosine"), col("r_lex"), col("r_vec"), col("rrf"))
        .orderBy("qid", "rank")
    }),

    // ---- X14: distributed Lloyd k-means training — the full-corpus
    // counterpart of the PQ codebook's bounded-sample training, i.e.
    // how the IVF coarse quantizer is actually trained at 100 TB:
    // per round, centroids (K×D longs — the entire model state)
    // broadcast to a map-side argmin kernel, then a (code, dim)-keyed
    // aggregate with K·D distinct keys partial-combines the update on
    // the map side; the driver only ever collects K×D longs per round.
    // All arithmetic on the PQ integer grid, so the DuckDB twin
    // replays both rounds and the final assignment bit-for-bit.
    // Output: final centroids in (code, dim) long format with each
    // cluster's population and integer inertia. ----
    "x14_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      val cents = kmTrain(s, dir)
      val kernel = kmKernel(cents)
      val assignU = udf((v: Seq[Long]) => kernel(v))
      val stats = kmQuantized(s, dir)
        .select(assignU(col("qv")).as("a"))
        .groupBy(col("a._1").as("code"))
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(col("a._2")).cast("long").as("inertia"))
      val centRows = cents.toSeq.flatMap { case (code, cv) =>
        cv.indices.map(i => (code, i.toLong, cv(i))) }
      centRows.toDF("code", "i", "c")
        .join(stats, Seq("code"), "left")
        .select(col("code"), col("i"), col("c"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          coalesce(col("inertia"), lit(0L)).as("inertia"))
        .orderBy("code", "i")
    }),

    // ---- X18: incremental IVF append — how a serving index absorbs
    // new vectors at 100 TB: the coarse quantizer trained on the
    // pre-append corpus is FROZEN (retraining on every append would
    // invalidate every stored assignment and re-shuffle the whole
    // index), and appended vectors (vec_id % 5 == 4, a scale-free 20%
    // split) are assigned to the existing cells by the same map-side
    // argmin kernel — one pass over the delta, never the history,
    // e14's incremental discipline applied to the vector index. The
    // gate reports per-cell old/new populations and the appended
    // vectors' inertia (the drift signal that eventually triggers the
    // x15-style rebuild decision). The DuckDB twin replays train-on-
    // old → assign-all end-to-end, so the frozen-centroid contract is
    // hash-checked, not asserted. ----
    "x18_ivf_append" -> ((s, dir) => {
      import s.implicits._
      val cents = kmTrainOld(s, dir)
      val kernel = kmKernel(cents)
      val assignU = udf((v: Seq[Long]) => kernel(v))
      val stats = kmQuantized(s, dir)
        .withColumn("is_new", col("vec_id") % 5 === 4)
        .select(col("is_new"), assignU(col("qv")).as("a"))
        .groupBy(col("a._1").as("code"))
        .agg(sum(when(!col("is_new"), 1L).otherwise(0L)).cast("long").as("n_old"),
          sum(when(col("is_new"), 1L).otherwise(0L)).cast("long").as("n_new"),
          sum(when(col("is_new"), col("a._2")).otherwise(0L)).cast("long").as("inertia_new"))
      cents.toSeq.map(_._1).toDF("code")
        .join(stats, Seq("code"), "left")
        .select(col("code"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("inertia_new"), lit(0L)).as("inertia_new"))
        .orderBy("code")
    }),

    // ---- X19: serving from the PERSISTED index artifact — the
    // build-once/serve-many contract a 100 TB deployment runs: the
    // two-level cell assignment lands as a parquet artifact partitioned
    // by cell id (one write per JVM/dir, same landing discipline as
    // s15/s20), and SERVE time is pure relational work over the landed
    // table — scan + id equi-joins back to the vector store + the rank
    // window. No quantizer kernel, no UDF, no training anywhere in the
    // serve plan; a serving tier that probes a cell subset prunes the
    // cid partitions at the file listing. The gate proves the landed
    // artifact serves EXACTLY what the in-memory index serves (the
    // DuckDB twin recomputes assignment from raw vectors), so index
    // persistence is hash-checked, not asserted. ----
    "x19_persisted_ivf" -> ((s, dir) =>
      serveLanded(s, dir, landedRanks(s, indexLandingFor(s, dir)), nprobe = 8)),

    // ---- X20: tombstone deletion — the third leg of the index
    // lifecycle (x19 build/serve, x18 append, x20 delete): vectors
    // "deleted" from the corpus (vec_id % 37 == 1 plays the deletion
    // feed) are excluded at SERVE time by a filter on the landed
    // artifact — the index files are untouched, which is the entire
    // point of tombstoning: at 100 TB rewriting a cid-partitioned
    // index to remove 3% of rows costs more than a predicate that
    // rides the same scan, and compaction happens on the append
    // cadence (x18), not the delete cadence. Tombstoned vectors
    // neither serve as neighbors nor issue queries. The oracle
    // recomputes the whole IVF geometry from scratch minus exactly
    // those rows' SERVING role (assignment geometry is unchanged —
    // deleting a member does not move centroids any more than it
    // does in any IVF), so the gate proves filtered-serve ≡
    // recomputed-serve. ----
    "x20_tombstone_serving" -> ((s, dir) =>
      serveLanded(s, dir,
        landedRanks(s, indexLandingFor(s, dir)).filter(notTombstoned),
        nprobe = 8)),

    // ---- X21: tombstone compaction — the maintenance step that ends
    // x20's predicate-serving era: the landed index is REWRITTEN with
    // the tombstoned rows dropped (reading the x19 files, never
    // recomputing the quantizer — compaction is IO, not math), and the
    // serve below runs x19's plain plan with NO deletion filter. The
    // oracle is x20's (ground-up recomputation minus the deleted rows'
    // serving role), so the gate proves the rewrite dropped exactly
    // the tombstoned rows and nothing else: compacted-serve ≡
    // filtered-serve ≡ recomputed-serve. Lifecycle complete: x19
    // build/serve, x18 append, x20 delete, x21 compact. ----
    "x21_compacted_serving" -> ((s, dir) =>
      serveLanded(s, dir, landedRanks(s, compactedLandingFor(s, dir)), nprobe = 8)),

    // ---- X22: serving from the PERSISTED TRAINED index — x19's
    // build-once/serve-many contract applied to the index family a
    // production system actually trains: the Lloyd-trained cell
    // assignment + probe lists land once (cid-partitioned, training
    // never re-runs), and serve time is x19's plain relational plan —
    // scan + id equi-joins + the rank window, no quantizer kernel or
    // UDF anywhere in the serve plan. The oracle is x16's end-to-end
    // train→index→search replay, so the hash gate proves landed-
    // trained ≡ recomputed-trained. ----
    "x22_trained_persisted" -> ((s, dir) =>
      serveLanded(s, dir, landedRanks(s, trainedLandingFor(s, dir)), nprobe = 4)),

    // ---- X23: tombstone serving over the TRAINED landed index —
    // x20's serve-time exclusion (same deletion feed, vec_id % 37 ==
    // 1, same ride-the-scan predicate) applied to x22's artifact,
    // proving the lifecycle machinery is index-family-agnostic. The
    // oracle recomputes training from scratch and excludes the
    // tombstoned rows from both serving roles. ----
    "x23_trained_tombstone" -> ((s, dir) =>
      serveLanded(s, dir,
        landedRanks(s, trainedLandingFor(s, dir)).filter(notTombstoned),
        nprobe = 4)),

    // ---- X24: append to the TRAINED landed index — the last open leg
    // of the trained family's lifecycle (build/serve x22, delete x23,
    // compact via x21's machinery): new vectors (vec_id % 5 == 4,
    // x18's split) are assigned to the FROZEN old-trained centroids —
    // training never re-runs, the landed files never rewrite — and the
    // delta's (vec_id, arn, cid) rows union with the landed artifact
    // into one servable index; serve is x19's plain relational plan
    // over the union. The oracle replays train-on-OLD → assign-ALL →
    // serve in DuckDB (the parameterized trained-serve replay with the
    // training set filtered), so the hash gate proves landed-old ∪
    // assigned-delta ≡ the from-scratch frozen-centroid index — quan-
    // tization drift from appending without retraining shows up as
    // recall decay (x18 measures inertia), never as a wrong result. ----
    "x24_trained_append" -> ((s, dir) => {
      val landed = landedRanks(s, trainedOldLandingFor(s, dir))
      val delta = probeRanks(kmTrainOld(s, dir),
        kmQuantized(s, dir).filter(col("vec_id") % 5 === 4))
      serveLanded(s, dir, landed.unionByName(delta), nprobe = 4)
    }),

    // ---- X2: sign-LSH bucketed top-5. The integer-weight planes make
    // the bucket id a pure arithmetic function of the vector, so the
    // whole query — signature, bucket join, rank — is hash-gated against
    // a DuckDB twin (DedupSpec additionally checks exact cosines). ----
    "x2_ann_lsh" -> ((s, dir) => {
      val width = s.conf.get("spark.sql.shuffle.partitions").toInt
      val e = vecs(s, dir).withColumn("sig", bucketUdf(col("v")))
      val queriesDf = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
          col("sig").as("qsig"))
      val corpus = e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2"), col("sig").as("nsig")).repartition(width)
      topK(broadcast(queriesDf).join(corpus,
        col("qsig") === col("nsig") && col("qid") =!= col("nid")), 5)
    })
  )

  /** Shared DuckDB-twin CTE builders for the PQ oracle family
    * (x6/x7/x8): one code-assignment pass and one integer-Lloyd
    * centroid update, replayed identically to the engine's training. */
  private def assignSql(src: String, cb: String, out: String) =
    s"""${out}_d AS (SELECT v.vec_id, v.s, v.sub, c.code,
       |     CAST(list_sum(list_transform(list_zip(v.sub, c.csub),
       |       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |   FROM $src v JOIN $cb c USING (s)),
       | $out AS (SELECT * FROM (SELECT *, row_number() OVER
       |     (PARTITION BY vec_id, s ORDER BY d, code) AS rn FROM ${out}_d)
       |   WHERE rn = 1)""".stripMargin

  private def lloydSql(a: String, cbPrev: String, cbNext: String) =
    s"""${cbNext}_m AS (SELECT s, code, di.i AS i,
       |     CAST(floor(sum(sub[di.i]) * 1.0 / count(*) + 0.5) AS BIGINT) AS nd
       |   FROM $a CROSS JOIN (SELECT unnest(range(1, 17)) AS i) di
       |   GROUP BY s, code, di.i),
       | $cbNext AS (SELECT c.s, c.code, COALESCE(m.ns, c.csub) AS csub
       |   FROM $cbPrev c LEFT JOIN (SELECT s, code, list(nd ORDER BY i) AS ns
       |     FROM ${cbNext}_m GROUP BY s, code) m USING (s, code))""".stripMargin

  /** Twin of [[DedupQueries.cellRanks]] — the two-level coarse
    * quantizer, replayed relationally. Expects `e`/`n` CTEs in scope;
    * yields `ar` = (vec_id, v, n2, cid, ccos, arn ≤ 8): each vector's
    * fine-cell ranking within its top-(1+⌈24/g⌉) coarse groups (24 =
    * 3·MaxProbes, bit-for-bit shared with the Scala side), where
    * the fine level is the vec_id % 50 = 1 seed subset, g =
    * GREATEST(1, ⌊√(N/50)+0.5⌋) fine cells per coarse group, and the
    * coarse level is the vec_id % (50·g) = 1 sub-subset. Every cosine
    * is the same sequential list_reduce fold as the engine's
    * graft_dot, and both rank levels break ties (cos DESC, id ASC). */
  private val ivfArSql: String =
    """cent AS (SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM n WHERE vec_id % 50 = 1),
      | prm AS (SELECT GREATEST(1, CAST(floor(sqrt(count(*) / 50.0) + 0.5) AS BIGINT)) AS g
      |   FROM embeddings),
      | coarse AS (SELECT cid AS gid, cv AS gv, cn2 AS gn2 FROM cent, prm
      |   WHERE cid % (50 * g) = 1),
      | fg AS (SELECT c.cid, g.gid,
      |     list_reduce(list_transform(list_zip(c.cv, g.gv), z -> z[1] * z[2]),
      |       (a, b) -> a + b) / sqrt(c.cn2 * g.gn2) AS gcos
      |   FROM cent c CROSS JOIN coarse g),
      | fine AS (SELECT f.cid, c.cv, c.cn2, f.gid FROM (SELECT cid, gid FROM
      |     (SELECT *, row_number() OVER
      |        (PARTITION BY cid ORDER BY gcos DESC, gid ASC) AS rn FROM fg)
      |     WHERE rn = 1) f JOIN cent c USING (cid)),
      | vg AS (SELECT n.vec_id, g.gid,
      |     list_reduce(list_transform(list_zip(n.v, g.gv), z -> z[1] * z[2]),
      |       (a, b) -> a + b) / sqrt(n.n2 * g.gn2) AS gcos
      |   FROM n CROSS JOIN coarse g),
      | vp AS (SELECT w.vec_id, w.gid FROM
      |     (SELECT *, row_number() OVER
      |        (PARTITION BY vec_id ORDER BY gcos DESC, gid ASC) AS grn FROM vg) w, prm
      |   WHERE w.grn <= 1 + CAST(ceil(24.0 / prm.g) AS BIGINT)),
      | ac AS (SELECT n.vec_id, n.v, n.n2, f.cid,
      |     list_reduce(list_transform(list_zip(n.v, f.cv), z -> z[1] * z[2]),
      |       (a, b) -> a + b) / sqrt(n.n2 * f.cn2) AS ccos
      |   FROM vp JOIN n USING (vec_id) JOIN fine f USING (gid)),
      | ar AS (SELECT * FROM (SELECT *, row_number() OVER
      |     (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS arn FROM ac)
      |   WHERE arn <= 8)""".stripMargin

  /** Twin of [[ivfPqAdc]]: PQ prologue + full-precision e/n CTEs +
    * two-level cell assignment + nprobe-wide probe lists + the
    * cell-restricted ADC sum (-> adc, with e/n still in scope for
    * downstream rerank/brute CTEs). */
  private def ivfPqAdcSql(nprobe: Int): String =
    s"""${pqPrologueSql},
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |       FROM embeddings),
       | n AS (SELECT vec_id, v,
       |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
       | ${ivfArSql},
       | assigned AS (SELECT vec_id AS nid, cid FROM ar WHERE arn = 1),
       | probes AS (SELECT vec_id AS qid, cid FROM ar
       |   WHERE arn <= $nprobe AND vec_id % 50 = 0),
       | dt AS (SELECT v.vec_id AS qid, v.s, c.code,
       |     CAST(list_sum(list_transform(list_zip(v.sub, c.csub),
       |       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |   FROM sub v JOIN cb2 c USING (s) WHERE v.vec_id % 50 = 0),
       | cand AS (SELECT p.qid, a.nid FROM assigned a JOIN probes p USING (cid)
       |   WHERE p.qid <> a.nid),
       | adc AS (SELECT c.qid, c.nid, CAST(sum(dt.d) AS BIGINT) AS adc_d
       |   FROM cand c JOIN af ON af.vec_id = c.nid
       |   JOIN dt ON dt.qid = c.qid AND dt.s = af.s AND dt.code = af.code
       |   GROUP BY c.qid, c.nid)""".stripMargin

  /** The shared PQ-oracle prologue: grid quantization, subvector
    * explode, sample, seed codebook, two Lloyd rounds (-> cb2), full
    * corpus assignment (-> af). */
  private val pqPrologueSql: String =
    s"""q AS (SELECT vec_id, list_transform(embedding,
       |     x -> CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)) AS qv FROM embeddings),
       | sub AS (SELECT vec_id, u.s, qv[u.s * 16 + 1 : u.s * 16 + 16] AS sub
       |   FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) u),
       | subt AS (SELECT * FROM sub WHERE vec_id < 4096),
       | cb0 AS (SELECT row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS code,
       |     s, sub AS csub FROM sub WHERE vec_id < 16),
       | ${assignSql("subt", "cb0", "a1")},
       | ${lloydSql("a1", "cb0", "cb1")},
       | ${assignSql("subt", "cb1", "a2")},
       | ${lloydSql("a2", "cb1", "cb2")},
       | ${assignSql("sub", "cb2", "af")}""".stripMargin

  /** X14 twin CTE pair: full-vector argmin assignment against a
    * centroid list (64-dim analogue of [[assignSql]]) and the
    * integer-grid Lloyd update with empty-cluster carry-over. */
  /** x16's end-to-end train→index→search DuckDB replay (grid
    * quantization, √N seeds, two Lloyd rounds, 4-probe serve, exact
    * cosine rank), parameterized by a serving-role exclusion predicate
    * so x23's tombstone twin drops the deleted rows from BOTH roles —
    * "" serves everything (x16, x22). */
  private def trainedServeSql(excl: String, trainFilter: String = "TRUE"): String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |     x -> CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)) AS qv
       |   FROM embeddings),
       | qt AS (SELECT * FROM q WHERE $trainFilter),
       | prmk AS (SELECT GREATEST(1, count(*) //
       |     CAST(ceil(sqrt(count(*))) AS BIGINT)) AS m FROM qt),
       | cb0 AS (SELECT vec_id AS code, qv AS cv FROM qt, prmk
       |   WHERE vec_id % m = 3 % m),
       | ${kmAssignSql("cb0", "a1", "qt")},
       | ${kmLloydSql("a1", "cb0", "cb1")},
       | ${kmAssignSql("cb1", "a2", "qt")},
       | ${kmLloydSql("a2", "cb1", "cb2")},
       | ${kmAssignSql("cb2", "af")},
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |       FROM embeddings),
       | n AS (SELECT vec_id, v,
       |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
       | probes AS (SELECT vec_id AS qid, code FROM (
       |     SELECT vec_id, code, row_number() OVER
       |       (PARTITION BY vec_id ORDER BY d, code) AS prn FROM af_d)
       |   WHERE prn <= 4 AND vec_id % 50 = 0$excl),
       | assigned AS (SELECT vec_id AS nid, code FROM af WHERE TRUE$excl),
       | pairs AS (SELECT p.qid, a.nid,
       |     list_reduce(list_transform(list_zip(nq.v, nn.v), z -> z[1] * z[2]),
       |       (x, y) -> x + y) / sqrt(nq.n2 * nn.n2) AS cosine
       |   FROM probes p JOIN assigned a USING (code)
       |   JOIN n nq ON nq.vec_id = p.qid
       |   JOIN n nn ON nn.vec_id = a.nid
       |   WHERE p.qid <> a.nid),
       | ranked AS (SELECT *, row_number() OVER
       |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
       |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  private def kmAssignSql(cb: String, out: String, src: String = "q") =
    s"""${out}_d AS (SELECT q.vec_id, c.code,
       |     CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
       |       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       |   FROM $src q CROSS JOIN $cb c),
       | $out AS (SELECT * FROM (SELECT *, row_number() OVER
       |     (PARTITION BY vec_id ORDER BY d, code) AS rn FROM ${out}_d)
       |   WHERE rn = 1)""".stripMargin

  private def kmLloydSql(a: String, cbPrev: String, cbNext: String) =
    s"""${cbNext}_m AS (SELECT a.code, di.i AS i,
       |     CAST(floor(sum(q.qv[di.i]) * 1.0 / count(*) + 0.5) AS BIGINT) AS nd
       |   FROM $a a JOIN q USING (vec_id)
       |   CROSS JOIN (SELECT unnest(range(1, 65)) AS i) di
       |   GROUP BY a.code, di.i),
       | $cbNext AS (SELECT c.code, COALESCE(m.nv, c.cv) AS cv
       |   FROM $cbPrev c LEFT JOIN (SELECT code, list(nd ORDER BY i) AS nv
       |     FROM ${cbNext}_m GROUP BY code) m USING (code))""".stripMargin

  val oracle: Map[String, String] = Map(
    // x17's twin replays the df-cap candidate generation (postings,
    // document frequency, stop-shingle drop, distinct pair join) and
    // then recomputes lexical overlap exactly over the FULL shingle
    // sets via list_intersect — the same propose-cheap/verify-exact
    // split the engine runs — before both rankings and the fusion.
    "x17_hybrid_rrf" ->
      s"""WITH docs AS (SELECT doc_id, ${DedupQueries.shinglesSql} AS sh
         |              FROM documents),
         | idx AS (SELECT d.doc_id, d.sh FROM docs d
         |   JOIN embeddings e ON e.vec_id = d.doc_id),
         | post AS (SELECT doc_id, unnest(sh) AS t FROM idx),
         | nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM idx),
         | rare AS (SELECT t FROM
         |     (SELECT t, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY t) f, nn
         |   WHERE f.df <= greatest(8, nn.n_docs // 64)),
         | cand AS (SELECT DISTINCT p.doc_id AS qid, c.doc_id AS cid
         |   FROM post p JOIN rare r ON p.t = r.t JOIN post c ON c.t = p.t
         |   WHERE p.doc_id % 50 = 0 AND c.doc_id <> p.doc_id),
         | ov AS (SELECT cd.qid, cd.cid,
         |     CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS overlap
         |   FROM cand cd JOIN idx a ON a.doc_id = cd.qid
         |   JOIN idx b ON b.doc_id = cd.cid),
         | ev AS (SELECT vec_id,
         |     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |   FROM embeddings),
         | en AS (SELECT vec_id, v,
         |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2
         |   FROM ev),
         | sc AS (SELECT o.qid, o.cid, o.overlap,
         |     list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
         |       (x, y) -> x + y) / sqrt(a.n2 * b.n2) AS cosine
         |   FROM ov o JOIN en a ON a.vec_id = o.qid
         |   JOIN en b ON b.vec_id = o.cid),
         | rk AS (SELECT *,
         |     row_number() OVER (PARTITION BY qid ORDER BY overlap DESC, cid) AS r_lex,
         |     row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS r_vec
         |   FROM sc),
         | rr AS (SELECT qid, cid, overlap, cosine, r_lex, r_vec,
         |     round(1.0 / (60.0 + r_lex) + 1.0 / (60.0 + r_vec), 6) AS rrf
         |   FROM rk),
         | top AS (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY rrf DESC, cid) AS "rank" FROM rr)
         |SELECT qid, CAST("rank" AS BIGINT) AS "rank", cid, overlap,
         |  round(cosine, 4) AS cosine, CAST(r_lex AS BIGINT) AS r_lex,
         |  CAST(r_vec AS BIGINT) AS r_vec, rrf
         |FROM top WHERE "rank" <= 10 ORDER BY qid, "rank"""".stripMargin,

    // x15's twin replays the two-level cell assignment and the
    // integer share arithmetic.
    "x15_ivf_balance" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         | n AS (SELECT vec_id, v,
         |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
         | ${ivfArSql},
         | assigned AS (SELECT vec_id, cid FROM ar WHERE arn = 1),
         | c AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cid),
         | t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM assigned)
         |SELECT cid, n_vecs, (10000 * n_vecs) // n_total AS share_bp
         |FROM c, t ORDER BY cid""".stripMargin,

    // x18's twin replays train-on-old → assign-ALL with the same CTE
    // machinery as x14/x16; seeds are the old subset's K ≈ √N_old
    // residue-3 modular sample.
    "x18_ivf_append" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |     x -> CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)) AS qv
         |   FROM embeddings),
         | qold AS (SELECT * FROM q WHERE vec_id % 5 <> 4),
         | prmk AS (SELECT GREATEST(1, count(*) //
         |     CAST(ceil(sqrt(count(*))) AS BIGINT)) AS m FROM qold),
         | cb0 AS (SELECT vec_id AS code, qv AS cv FROM qold, prmk
         |   WHERE vec_id % m = 3 % m),
         | ${kmAssignSql("cb0", "a1", "qold")},
         | ${kmLloydSql("a1", "cb0", "cb1")},
         | ${kmAssignSql("cb1", "a2", "qold")},
         | ${kmLloydSql("a2", "cb1", "cb2")},
         | ${kmAssignSql("cb2", "af")},
         | sel AS (SELECT code,
         |     CAST(sum(CASE WHEN vec_id % 5 <> 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         |     CAST(sum(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |     CAST(sum(CASE WHEN vec_id % 5 = 4 THEN d ELSE 0 END) AS BIGINT) AS inertia_new
         |   FROM af GROUP BY code)
         |SELECT c.code, CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
         |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
         |  CAST(COALESCE(inertia_new, 0) AS BIGINT) AS inertia_new
         |FROM cb2 c LEFT JOIN sel USING (code) ORDER BY c.code""".stripMargin,

    // x16's twin replays the ENTIRE pipeline — the x14 Lloyd prologue
    // to cb2, probe lists and assignment from the af_d distance table,
    // then the exact-cosine rank — one gate over train→index→search.
    "x16_trained_ivf" -> trainedServeSql(""),

    // x22's twin is x16's end-to-end train→index→search replay
    // verbatim (the oracle never sees the landed artifact): the hash
    // gate is the landed-trained ≡ recomputed-trained proof, the same
    // contract x19's gate established for the unsupervised index.
    "x22_trained_persisted" -> trainedServeSql(""),

    // x23: the same replay minus the tombstoned rows' serving roles —
    // x20's proof obligation, over the trained index family.
    "x23_trained_tombstone" -> trainedServeSql(" AND vec_id % 37 <> 1"),

    // x24: the replay with the TRAINING set restricted to the old
    // corpus (vec_id % 5 != 4) while assignment and serving cover
    // everything — proving landed-old ∪ frozen-centroid-assigned-delta
    // ≡ the from-scratch index over the same centroids.
    "x24_trained_append" -> trainedServeSql("", "vec_id % 5 <> 4"),

    // Lloyd twin: grid quantization, seed codebook = vec_id < 16, two
    // assignment+update rounds, final assignment → per-cluster stats;
    // every step BIGINT so the hash gate is exact.
    "x14_kmeans_train" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |     x -> CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)) AS qv
         |   FROM embeddings),
         | prmk AS (SELECT GREATEST(1, count(*) //
         |     CAST(ceil(sqrt(count(*))) AS BIGINT)) AS m FROM q),
         | cb0 AS (SELECT vec_id AS code, qv AS cv FROM q, prmk
         |   WHERE vec_id % m = 3 % m),
         | ${kmAssignSql("cb0", "a1")},
         | ${kmLloydSql("a1", "cb0", "cb1")},
         | ${kmAssignSql("cb1", "a2")},
         | ${kmLloydSql("a2", "cb1", "cb2")},
         | ${kmAssignSql("cb2", "af")},
         | stats AS (SELECT code, CAST(count(*) AS BIGINT) AS n_vecs,
         |     CAST(sum(d) AS BIGINT) AS inertia FROM af GROUP BY code)
         |SELECT c.code, CAST(di.i - 1 AS BIGINT) AS i, c.cv[di.i] AS c,
         |  CAST(COALESCE(s.n_vecs, 0) AS BIGINT) AS n_vecs,
         |  CAST(COALESCE(s.inertia, 0) AS BIGINT) AS inertia
         |FROM cb2 c CROSS JOIN (SELECT unnest(range(1, 65)) AS i) di
         |LEFT JOIN stats s USING (code)
         |ORDER BY code, i""".stripMargin,
    // kNN graph twin: the exact all-pairs cos >= 0.45 edge set (d5's
    // formulation — the oracle is allowed brute force), symmetrized,
    // ranked by the same (rounded cosine DESC, nid ASC) window.
    "x13_knn_graph" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |     list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
        |       (x, y) -> x + y) / sqrt(a.n2 * b.n2) AS cosine
        |   FROM n a JOIN n b ON a.vec_id < b.vec_id),
        | edges AS (SELECT id1, id2, round(cosine, 4) AS c FROM pairs
        |   WHERE cosine >= 0.45),
        | sym AS (SELECT id1 AS vec_id, id2 AS nid, c FROM edges
        |   UNION ALL SELECT id2, id1, c FROM edges),
        | r AS (SELECT vec_id, nid, c, row_number() OVER
        |     (PARTITION BY vec_id ORDER BY c DESC, nid ASC) AS rn FROM sym)
        |SELECT vec_id, rn AS rank, nid, c AS cosine FROM r
        |WHERE rn <= 3 ORDER BY vec_id, rank""".stripMargin,

    // Integer-weight sign-LSH: the signature is recomputed in SQL from
    // the same w(p,i) = ((i·(p+3)+p) mod 7) − 3 formula; integer weights
    // are exact doubles and the fold is sequential, so Spark and DuckDB
    // agree on every projection sign and hence every bucket.
    "x2_ann_lsh" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | sigs AS (SELECT vec_id, v, n2,
        |     CAST(list_sum(list_transform(range(0, 8), p ->
        |       CASE WHEN list_reduce(list_transform(range(1, least(len(v), 64) + 1),
        |           i -> v[i] * CAST((((i - 1) * (p + 3) + p) % 7) - 3 AS DOUBLE)),
        |         (a, b) -> a + b) > 0
        |       THEN 1 << CAST(7 - p AS INT) ELSE 0 END)) AS BIGINT) AS sig
        |   FROM n),
        | q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, sig FROM sigs
        |   WHERE vec_id % 50 = 0),
        | pairs AS (SELECT q.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(q.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(q.qn2 * c.n2) AS cosine
        |   FROM q JOIN sigs c ON q.sig = c.sig AND q.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "x4_ann_ivf_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         | n AS (SELECT vec_id, v,
         |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
         | ${ivfArSql},
         | assigned AS (SELECT vec_id, v, n2, cid FROM ar WHERE arn = 1),
         | probes AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, cid FROM ar
         |   WHERE arn <= 8 AND vec_id % 50 = 0),
        | ipairs AS (SELECT p.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(p.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(p.qn2 * c.n2) AS cosine
        |   FROM probes p JOIN assigned c ON p.cid = c.cid AND p.qid <> c.vec_id),
        | itop AS (SELECT qid, nid FROM (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM ipairs)
        |   WHERE rank <= 5),
        | bq AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id % 50 = 0),
        | bpairs AS (SELECT q.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(q.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(q.qn2 * c.n2) AS cosine
        |   FROM bq q JOIN n c ON q.qid <> c.vec_id),
        | btop AS (SELECT qid, nid FROM (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM bpairs)
        |   WHERE rank <= 5),
        | hits AS (SELECT b.qid, count(*) AS hits FROM btop b
        |   JOIN itop i ON b.qid = i.qid AND b.nid = i.nid GROUP BY b.qid)
        |SELECT q.qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(COALESCE(h.hits, 0) AS BIGINT) / 5.0, 4) AS recall
        |FROM (SELECT DISTINCT qid FROM btop) q LEFT JOIN hits h ON q.qid = h.qid
        |ORDER BY q.qid""".stripMargin,

    // Same floor(x·scale + 0.5) expression and sequential squared-error
    // fold as the Spark plan — integer-valued doubles stay exact, so
    // the quantized codes and the RMSE agree bit-for-bit.
    "x5_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | m AS (SELECT vec_id, v,
        |     127.0 / list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        | q AS (SELECT vec_id, v, scale,
        |     list_transform(v, x ->
        |       greatest(least(floor(x * scale + 0.5), 127), -127)) AS qv FROM m),
        | r AS (SELECT vec_id, scale, qv,
        |     sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(list_zip(v, qv), p -> (p[1] - p[2] / scale) * (p[1] - p[2] / scale))),
        |       (a, b) -> a + b) / len(v)) AS rmse FROM q)
        |SELECT vec_id, round(scale, 4) AS scale,
        | len(list_filter(qv, x -> abs(x) = 127)) AS n_clipped,
        | round(rmse, 6) AS rmse
        |FROM r ORDER BY vec_id""".stripMargin,

    // Same integer grid, slices, and (L2², code) argmin as the Spark
    // plan — every distance is BIGINT, so the hash gate is exact.
    // cb0 labels codes DENSELY by seed rank (row_number − 1), matching
    // the engine's array-index codes on any id domain — `code = vec_id`
    // only coincides when the seed ids happen to be exactly 0..15.
    // Twin of the 2-iteration integer Lloyd refinement: the assignment
    // and centroid-update CTE pair repeats per iteration over the
    // bounded training sample `subt` (vec_id < 4096 — the same sample
    // the engine collects to the driver); the final assignment runs
    // over the full corpus `sub`. Argmin by (L2², code); centroid dim =
    // floor(mean + 0.5); empty code keeps its previous centroid via the
    // LEFT JOIN COALESCE.
    "x6_pq_assign" -> {
      s"""WITH ${pqPrologueSql}
         |SELECT vec_id,
         | max(CASE WHEN s = 0 THEN code END) AS c0,
         | max(CASE WHEN s = 1 THEN code END) AS c1,
         | max(CASE WHEN s = 2 THEN code END) AS c2,
         | max(CASE WHEN s = 3 THEN code END) AS c3,
         | CAST(sum(d) AS BIGINT) AS err
         |FROM af GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    // Twin of the ADC search: replays x6's training (same two Lloyd
    // rounds over the vec_id < 4096 sample) and corpus assignment,
    // then the per-query distance table and the 4-lookup ADC sum.
    "x7_pq_adc" -> {
      s"""WITH ${pqPrologueSql},
         | dt AS (SELECT v.vec_id AS qid, v.s, c.code,
         |     CAST(list_sum(list_transform(list_zip(v.sub, c.csub),
         |       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
         |   FROM sub v JOIN cb2 c USING (s) WHERE v.vec_id % 50 = 0),
         | adc AS (SELECT dt.qid, af.vec_id AS nid, CAST(sum(dt.d) AS BIGINT) AS adc_d
         |   FROM af JOIN dt ON dt.s = af.s AND dt.code = af.code
         |   WHERE dt.qid <> af.vec_id GROUP BY dt.qid, af.vec_id),
         | ranked AS (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY adc_d ASC, nid ASC) AS rank FROM adc)
         |SELECT qid, rank, nid, adc_d FROM ranked
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // Twin of the two-stage retrieve: x7's CTE chain through the ADC
    // top-20, then exact-cosine re-rank of just those candidates.
    "x8_pq_rerank" -> {
      s"""WITH ${pqPrologueSql},
         | dt AS (SELECT v.vec_id AS qid, v.s, c.code,
         |     CAST(list_sum(list_transform(list_zip(v.sub, c.csub),
         |       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
         |   FROM sub v JOIN cb2 c USING (s) WHERE v.vec_id % 50 = 0),
         | adc AS (SELECT dt.qid, af.vec_id AS nid, CAST(sum(dt.d) AS BIGINT) AS adc_d
         |   FROM af JOIN dt ON dt.s = af.s AND dt.code = af.code
         |   WHERE dt.qid <> af.vec_id GROUP BY dt.qid, af.vec_id),
         | cand AS (SELECT qid, nid FROM (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY adc_d ASC, nid ASC) AS arn FROM adc)
         |   WHERE arn <= 20),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |       FROM embeddings),
         | n AS (SELECT vec_id, v,
         |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
         | scored AS (SELECT c.qid, c.nid,
         |     list_reduce(list_transform(list_zip(qe.v, ne.v), p -> p[1] * p[2]),
         |       (a, b) -> a + b) / sqrt(qe.n2 * ne.n2) AS cosine
         |   FROM cand c JOIN n ne ON c.nid = ne.vec_id JOIN n qe ON c.qid = qe.vec_id),
         | ranked AS (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM scored)
         |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // Twin of the IVF+PQ composition: x3's cell-assignment CTEs +
    // the PQ prologue + cell-restricted ADC scoring.
    "x9_ivf_pq" ->
      s"""WITH ${ivfPqAdcSql(4)},
         | ranked AS (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY adc_d ASC, nid ASC) AS rank FROM adc)
         |SELECT qid, rank, nid, adc_d FROM ranked
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // Twin of the production path: the nprobe=9 ADC chain, top-250
    // candidates, exact-cosine re-rank to a final top-5.
    "x11_ivf_pq_rerank" ->
      s"""WITH ${ivfPqAdcSql(9)},
         | cand20 AS (SELECT qid, nid FROM (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY adc_d ASC, nid ASC) AS arn FROM adc)
         |   WHERE arn <= 250),
         | scored AS (SELECT c.qid, c.nid,
         |     list_reduce(list_transform(list_zip(qe.v, ne.v), p -> p[1] * p[2]),
         |       (a, b) -> a + b) / sqrt(qe.n2 * ne.n2) AS cosine
         |   FROM cand20 c JOIN n ne ON c.nid = ne.vec_id JOIN n qe ON c.qid = qe.vec_id),
         | ranked AS (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM scored)
         |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // x9's chain + x1's brute chain (sharing the e/n CTEs) + the
    // per-query hit count.
    "x10_pq_recall" ->
      s"""WITH ${ivfPqAdcSql(4)},
         | itop AS (SELECT qid, nid FROM (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY adc_d ASC, nid ASC) AS rank FROM adc)
         |   WHERE rank <= 5),
         | bq AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id % 50 = 0),
         | bpairs AS (SELECT q.qid, c.vec_id AS nid,
         |     list_reduce(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]),
         |       (a, b) -> a + b) / sqrt(q.qn2 * c.n2) AS cosine
         |   FROM bq q JOIN n c ON q.qid <> c.vec_id),
         | btop AS (SELECT qid, nid FROM (SELECT *, row_number() OVER
         |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM bpairs)
         |   WHERE rank <= 5),
         | hits AS (SELECT b.qid, count(*) AS hits FROM btop b
         |   JOIN itop i ON b.qid = i.qid AND b.nid = i.nid GROUP BY b.qid)
         |SELECT q.qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  round(CAST(COALESCE(h.hits, 0) AS BIGINT) / 5.0, 4) AS recall
         |FROM (SELECT DISTINCT qid FROM btop) q LEFT JOIN hits h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,

    "x1_ann_brute" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id % 50 = 0),
        | pairs AS (SELECT q.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(q.qv, c.v),
        |       p -> p[1] * p[2]), (a, b) -> a + b) / sqrt(q.qn2 * c.n2) AS cosine
        |   FROM q JOIN n c ON q.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // x3's cell-assignment chain + the allowed-source semi restriction
    // on the corpus side + nprobe=8 probe lists.
    "x12_ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | ${ivfArSql},
        | allowed AS (SELECT doc_id FROM documents
        |   WHERE source IN ('src1', 'src2', 'src3', 'src4', 'src5')),
        | assigned AS (SELECT vec_id, v, n2, cid FROM ar WHERE arn = 1
        |   AND vec_id IN (SELECT doc_id FROM allowed)),
        | probes AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, cid FROM ar
        |   WHERE arn <= 8 AND vec_id % 50 = 0),
        | pairs AS (SELECT p.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(p.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(p.qn2 * c.n2) AS cosine
        |   FROM probes p JOIN assigned c ON p.cid = c.cid AND p.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "x3_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | ${ivfArSql},
        | assigned AS (SELECT vec_id, v, n2, cid FROM ar WHERE arn = 1),
        | q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, cid FROM assigned
        |   WHERE vec_id % 50 = 0),
        | pairs AS (SELECT q.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]),
        |       (a, b) -> a + b) / sqrt(q.qn2 * c.n2) AS cosine
        |   FROM q JOIN assigned c ON q.cid = c.cid AND q.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // x19's twin recomputes the two-level assignment from the raw
    // vectors (the oracle never sees the landed artifact — that is the
    // point: landed serving must equal recomputed serving) and replays
    // the multi-probe serve.
    "x19_persisted_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | ${ivfArSql},
        | assigned AS (SELECT vec_id, v, n2, cid FROM ar WHERE arn = 1),
        | probes AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, cid FROM ar
        |   WHERE arn <= 8 AND vec_id % 50 = 0),
        | pairs AS (SELECT p.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(p.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(p.qn2 * c.n2) AS cosine
        |   FROM probes p JOIN assigned c ON p.cid = c.cid AND p.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // x20's twin: identical IVF geometry (assignment is untouched by
    // deletion), with the tombstoned rows excluded from BOTH serving
    // roles — proving the engine's serve-time filter over the landed
    // artifact equals a ground-up recomputation without those rows.
    "x20_tombstone_serving" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | ${ivfArSql},
        | assigned AS (SELECT vec_id, v, n2, cid FROM ar
        |   WHERE arn = 1 AND vec_id % 37 <> 1),
        | probes AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, cid FROM ar
        |   WHERE arn <= 8 AND vec_id % 50 = 0 AND vec_id % 37 <> 1),
        | pairs AS (SELECT p.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(p.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(p.qn2 * c.n2) AS cosine
        |   FROM probes p JOIN assigned c ON p.cid = c.cid AND p.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // x21 shares x20's oracle verbatim: compaction must be a pure
    // physical rewrite — serving the compacted artifact with no filter
    // must equal the filtered serve, which equals the ground-up
    // recomputation without the tombstoned rows.
    "x21_compacted_serving" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        | n AS (SELECT vec_id, v,
        |     list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2 FROM e),
        | ${ivfArSql},
        | assigned AS (SELECT vec_id, v, n2, cid FROM ar
        |   WHERE arn = 1 AND vec_id % 37 <> 1),
        | probes AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, cid FROM ar
        |   WHERE arn <= 8 AND vec_id % 50 = 0 AND vec_id % 37 <> 1),
        | pairs AS (SELECT p.qid, c.vec_id AS nid,
        |     list_reduce(list_transform(list_zip(p.qv, c.v), z -> z[1] * z[2]),
        |       (a, b) -> a + b) / sqrt(p.qn2 * c.n2) AS cosine
        |   FROM probes p JOIN assigned c ON p.cid = c.cid AND p.qid <> c.vec_id),
        | ranked AS (SELECT *, row_number() OVER
        |     (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank FROM pairs)
        |SELECT qid, rank, nid, round(cosine, 4) AS cosine FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  )
}
