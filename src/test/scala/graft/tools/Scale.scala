package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.{Bench, GraftSession, SparkEntry}
import graft.operators.GlobalOrder
import graft.queries.{AnnQueries, Caches, DedupQueries, QueryFn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one scaling harness: replicate(k, model) × a list of queries for
  * k = 1, 2, 4, 8, each k timed by [[graft.Bench.measure]] (warmup,
  * min-of-2 steady, artifact-cold, wall and CPU; a query that throws is
  * listed under `failed` and never timed), read as growth exponents
  * log(y_k / y_1) / log k for every timing and every tracked row count.
  *
  * Usage: `SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.tools.Scale <entry>... <src dir>"`,
  * the src dir holding the fixture tables. Replicas land in
  * `x<k>/` under a fresh `<tmpdir>/graft_scale_<entry>…` tree, deleted
  * on exit. Each (entry, `SPARK_GRAFT_CPUS`) pair gets one record in
  * `SCALE.json`; a rerun replaces it. Conf variants (AQE, broadcast
  * threshold) are reruns with `-Dspark.*` system properties, which the
  * record lists under `conf`.
  */
object Scale {
  val Ks: Seq[Int] = Seq(1, 2, 4, 8)

  /** Key offset of copy c: c·10M keeps every id residue the queries
    * sample on (`% 10` batches, `% 50` query sets and centroid seeds). */
  private val Shift = 10000000L

  /** One replicated table. `copy(spark, src, c)` is copy c; for a table
    * read from the source dir, copy 0 is the source itself. `key`, when
    * set, stays unique over all copies. */
  final case class Table(name: String, key: Option[String],
      copy: (SparkSession, String, Int) => DataFrame)

  /** A growth model: the tables a k× replica holds. */
  final case class Model(name: String, tables: Seq[Table])

  private def source(s: SparkSession, src: String, table: String): DataFrame =
    s.read.parquet(s"$src/$table.parquet")

  private def shifted(df: DataFrame, key: String, c: Int, by: Long = Shift): DataFrame =
    df.withColumn(key, col(key) + lit(c * by))

  private def withText(df: DataFrame, text: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("text", text).withColumn("n_chars", length(col("text")))

  /** ≈50% of word TYPES rewritten per copy, keyed by (word, copy): a
    * span shared within a copy stays shared, and each copy keeps the
    * source's document-frequency structure. The other half of the types
    * keep their spelling in every copy, so a short character span made
    * only of kept words recurs across copies (d33 and d23 pairs grow
    * faster than k). */
  val docs: Model = Model("docs", Seq(Table("documents", Some("doc_id"), (s, src, c) => {
    val d = source(s, src, "documents")
    if (c == 0) d
    else withText(shifted(d, "doc_id", c), expr(
      s"array_join(transform(split(text, ' '), w -> " +
        s"IF(abs(hash(w, $c)) % 2 = 0, concat(w, 'q$c'), w)), ' ')"))
  })))

  /** A copy tag between every two words (`' ' → ' c<k> '`): every
    * shingle carries it, so copies share nothing and the edge set of
    * d2/d28/d29 grows exactly k× (identical cross-copy text would add
    * k-cliques of exact-dup edges and grow the true answer
    * quadratically). */
  val docsSalted: Model = Model("docsSalted", Seq(Table("documents", Some("doc_id"), (s, src, c) =>
    withText(shifted(source(s, src, "documents"), "doc_id", c),
      regexp_replace(col("text"), " ", s" c$c ")))))

  /** A per-copy sign flip over the vector elements: flipping both sides
    * of a within-copy pair leaves every cosine bit-exact, while the
    * ~half-differing signs across copies cancel any shared structure
    * (a cyclic shift would leave a nonzero common mean intact). */
  val embeddings: Model = Model("embeddings", Seq(Table("embeddings", Some("vec_id"), (s, src, c) => {
    val e = source(s, src, "embeddings")
    if (c == 0) e
    else shifted(e, "vec_id", c).withColumn("embedding", expr(
      s"transform(embedding, (x, i) -> IF(abs(hash(i, $c)) % 2 = 0, x, -x))"))
  })))

  /** Order keys and customer keys shift per copy, so the dimension's
    * key space grows with the fact volume (a fixed key space would grow
    * the per-key version chains instead). */
  val orders: Model = Model("orders", Seq(
    Table("orders", Some("o_orderkey"), (s, src, c) =>
      shifted(shifted(source(s, src, "orders"), "o_orderkey", c), "o_custkey", c, 1000000L)),
    Table("lineitem", None, (s, src, c) =>
      shifted(source(s, src, "lineitem"), "l_orderkey", c))))

  /** Fixed diameter of each copy's chain component. */
  private val ChainLen = 4096L
  private val ChainBase = 1L << 40

  /** Generated rows, sized from the source's lineitem count so the
    * source dir sets every model's scale:
    *   - `ranges`: 2 rows per lineitem per copy, `(id, grp, key,
    *     n_tokens)` with 80% of rows in group "big" — GlobalOrder's
    *     prefix sum and grouped rank against their window formulations;
    *   - `edges`: a star (hub 0, one spoke per 4 lineitems per copy, so
    *     the hub's join key carries half the symmetrized edge mass at
    *     every k) plus one fixed-diameter chain per copy — the
    *     adversarial shape for `minLabelClusters`. */
  val synthetic: Model = Model("synthetic", Seq(
    Table("ranges", Some("id"), (s, src, c) => {
      val n = 2 * source(s, src, "lineitem").count()
      s.range(c * n, (c + 1) * n).select(col("id"),
        when(col("id") % 5 === 0, lit("small")).otherwise(lit("big")).as("grp"),
        ((col("id") * 131) % 100003).as("key"),
        (col("id") * 131 % 997 + 5).as("n_tokens"))
    }),
    Table("edges", Some("doc2"), (s, src, c) => {
      val spokes = source(s, src, "lineitem").count() / 4
      val chain0 = ChainBase + c * ChainLen
      s.range(c * spokes + 1, (c + 1) * spokes + 1).select(lit(0L).as("doc1"), col("id").as("doc2"))
        .unionByName(s.range(chain0, chain0 + ChainLen - 1)
          .select(col("id").as("doc1"), (col("id") + 1).as("doc2")))
    })))

  val models: Seq[Model] = Seq(docs, docsSalted, embeddings, orders, synthetic)

  /** Writes the k× replica of every table of `model` into `dir`. */
  def replicate(spark: SparkSession, src: String, model: Model, k: Int, dir: String): Unit =
    model.tables.foreach { t =>
      (0 until k).map(t.copy(spark, src, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }

  type Count = (SparkSession, String) => Long

  /** What one scale run measures: the models its replicas hold, the
    * queries [[graft.Bench.measure]] times, and the row counts tracked
    * next to them. */
  final case class Entry(name: String, models: Seq[Model],
      queries: Seq[(String, QueryFn)], counts: Seq[(String, Count)] = Nil)

  private def q(names: String*): Seq[(String, QueryFn)] =
    names.map(n => n -> SparkEntry.queries(n))
  private def rows(name: String): Count = (s, dir) => SparkEntry.queries(name)(s, dir).count()

  private def ranges(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/ranges.parquet")
  private val bspLabels: QueryFn = (s, dir) =>
    DedupQueries.minLabelClusters(s.read.parquet(s"$dir/edges.parquet"), dir)
      .select("cluster_id").distinct()

  val entries: Seq[Entry] = Seq(
    Entry("d3", Seq(docs), q("d3_ngram_jaccard"), Seq(
      "candidates" -> ((s, dir) => DedupQueries.d3Candidates(s, dir).count()),
      "pairs" -> rows("d3_ngram_jaccard"))),
    Entry("substr", Seq(docs), q("d23_shared_substrings", "d26_substring_admission"), Seq(
      "d23_pairs" -> rows("d23_shared_substrings"),
      "d26_rows" -> rows("d26_substring_admission"))),
    Entry("winnow", Seq(docs), q("t45_winnowing", "d33_winnow_pairs", "d34_winnow_admission"), Seq(
      "fingerprints" -> rows("t45_winnowing"),
      "d33_pairs" -> rows("d33_winnow_pairs"))),
    Entry("cc", Seq(docsSalted), q("d28_incremental_cc", "d29_landed_labels"), Seq(
      "edges" -> rows("d2_minhash_lsh"),
      "delta" -> ((s, dir) => SparkEntry.queries("d2_minhash_lsh")(s, dir)
        .filter(DedupQueries.d28IsDelta).count()))),
    Entry("d14", Seq(embeddings), q("d14_semantic_edges_ivf"), Seq(
      "candidates" -> ((s, dir) => DedupQueries.d14Candidates(s, dir).count()),
      // the coarse centroids are the only quantizer level the driver holds
      "coarse" -> ((s, dir) => DedupQueries.coarseFor(s, dir).length.toLong),
      "edges" -> rows("d14_semantic_edges_ivf"),
      "strong" -> ((s, dir) => SparkEntry.queries("d14_semantic_edges_ivf")(s, dir)
        .filter(col("cosine") >= 0.55).count()))),
    Entry("x17", Seq(docs, embeddings), q("x17_hybrid_rrf"), Seq(
      "candidates" -> ((s, dir) => AnnQueries.x17Candidates(s, dir).count()),
      "rows" -> rows("x17_hybrid_rrf"))),
    Entry("scd", Seq(orders), q("s22_scd2_merge", "e16_pit_join", "e13_range_join")),
    Entry("order", Seq(synthetic), Seq(
      "prefix_sharded" -> ((s, dir) => GlobalOrder
        .withRunningTotal(ranges(s, dir), "off", col("n_tokens"), col("id"))
        .agg(max("off"), sum("off"))),
      "prefix_window" -> ((s, dir) => ranges(s, dir)
        .withColumn("off", coalesce(sum("n_tokens").over(
          Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .agg(max("off"), sum("off"))),
      "rank_sharded" -> ((s, dir) => GlobalOrder
        .withPositionWithin(ranges(s, dir), "pos", Seq("grp"), col("key"), col("id"))
        .agg(max("pos"), sum("pos"))),
      "rank_window" -> ((s, dir) => ranges(s, dir)
        .withColumn("pos", row_number().over(
          Window.partitionBy("grp").orderBy(col("key"), col("id"))))
        .agg(max("pos"), sum("pos"))))),
    Entry("bsp", Seq(synthetic), Seq("bsp_labels" -> bspLabels), Seq(
      "clusters" -> ((s, dir) => bspLabels(s, dir).count()))))

  def entry(name: String): Entry = entries.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown scale entry '$name'; entries: ${entries.map(_.name).mkString(", ")}"))

  /** One k of a run: Bench's measurement and the tracked counts (a
    * count that throws is left out; its query is in `m.failed`). */
  final case class Run(k: Int, m: Bench.Measured, counts: Map[String, Long])

  /** Replicates, measures and counts `entry` at each k under `root`,
    * then deletes `root` and every landing of its replicas. */
  def run(spark: SparkSession, entry: Entry, src: String, root: Path,
      ks: Seq[Int] = Ks): Seq[Run] = {
    try ks.map { k =>
      val dir = root.resolve(s"x$k").toString
      try {
        entry.models.foreach(replicate(spark, src, _, k, dir))
        val m = Bench.measure(spark, dir, entry.queries)
        Run(k, m, entry.counts.flatMap { case (n, f) => Try(f(spark, dir)).toOption.map(n -> _) }.toMap)
      } finally Caches.release(spark, dir)
    } finally deleteTree(root)
  }

  /** log(y_k / y_1) / log k for each k > 1 where both sides are positive. */
  def exponents(ys: Seq[(Int, Double)]): Seq[(Int, Double)] = {
    val y1 = ys.collectFirst { case (1, y) if y > 0 => y }
    for { (k, y) <- ys if k > 1 && y > 0; b <- y1 } yield k -> math.log(y / b) / math.log(k)
  }

  /** Every timing map and the counts as `group -> name -> (k, y)` series. */
  def series(runs: Seq[Run]): Seq[(String, Seq[(String, Seq[(Int, Double)])])] = {
    def group(name: String, of: Run => Map[String, Double]) = name -> {
      val names = runs.flatMap(of(_).keys).distinct.sorted
      names.map(n => n -> runs.flatMap(r => of(r).get(n).map(r.k -> _)))
    }
    Seq(group("queries", _.m.steady), group("queries_cpu", _.m.steadyCpu),
      group("queries_cold", _.m.cold), group("queries_cold_cpu", _.m.coldCpu),
      group("counts", _.counts.map { case (n, c) => n -> c.toDouble }))
  }

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def num(d: Double): String = f"$d%.3f"

  /** One SCALE.json record, on one line. */
  def record(spark: SparkSession, entry: Entry, src: String, runs: Seq[Run]): String = {
    val cpus = spark.sparkContext.defaultParallelism
    val conf = sys.props.toSeq.filter(_._1.startsWith("spark.")).sorted.map { case (k, v) => k -> str(v) }
    def times(m: Map[String, Double]) = obj(m.toSeq.sorted.map { case (n, v) => n -> num(v) })
    val runJson = runs.map { r =>
      obj(Seq("k" -> r.k.toString, "load_avg" -> num(r.m.loadAvg),
        "queries" -> times(r.m.steady), "queries_cpu" -> times(r.m.steadyCpu),
        "queries_cold" -> times(r.m.cold), "queries_cold_cpu" -> times(r.m.coldCpu),
        "counts" -> obj(r.counts.toSeq.sorted.map { case (n, c) => n -> c.toString }),
        "failed" -> r.m.failed.map(str).mkString("[", ",", "]")))
    }
    val exps = series(runs).map { case (g, ss) =>
      g -> obj(ss.map { case (n, ys) =>
        n -> obj(exponents(ys).map { case (k, e) => k.toString -> f"$e%.2f" }) })
    }
    obj(Seq("entry" -> str(entry.name), "cpus" -> cpus.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString, "src" -> str(src),
      "models" -> entry.models.map(m => str(m.name)).mkString("[", ",", "]"),
      "conf" -> obj(conf), "runs" -> runJson.mkString("[", ",", "]"),
      "exponents" -> obj(exps)))
  }

  private val KeyRe = """^\{"entry":"([^"]*)","cpus":(\d+),""".r.unanchored

  /** Writes `rec` into the JSON array in `file`, one record per line,
    * replacing the record with the same (entry, cpus) key. */
  def store(file: Path, rec: String): Unit = {
    def key(line: String) = line match {
      case KeyRe(e, c) => (e, c.toInt)
      case _ => throw new IllegalStateException(s"not a scale record: ${line.take(80)}")
    }
    val old = if (!Files.exists(file)) Nil
      else Files.readAllLines(file).asScala.toSeq.map(_.stripSuffix(",")).filter(_.startsWith("{"))
    val all = (old.filterNot(key(_) == key(rec)) :+ rec).sortBy(key)
    Files.write(file, all.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally paths.close()
  }

  private def report(entry: Entry, runs: Seq[Run]): Unit = {
    println(s"scale ${entry.name}: k = ${runs.map(_.k).mkString(", ")}")
    runs.filter(_.m.failed.nonEmpty).foreach(r => println(s"  x${r.k} failed: ${r.m.failed.mkString(", ")}"))
    series(runs).foreach { case (g, ss) =>
      ss.foreach { case (n, ys) =>
        val values = ys.map { case (_, y) => if (g == "counts") f"$y%.0f" else f"$y%.2f" }
        val exps = exponents(ys).map { case (k, e) => f"x$k $e%5.2f" }
        println(f"  $g%-16s $n%-26s ${values.mkString(" ")}%-40s exponent ${exps.mkString(", ")}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.toSeq.partition(a => Files.isDirectory(Paths.get(a)))
    require(names.nonEmpty && dirs.size == 1,
      s"usage: Scale <entry>... <src dir>; entries: ${entries.map(_.name).mkString(", ")}")
    val picked = names.map(entry)
    val src = dirs.head
    val spark = GraftSession.build()
    try picked.foreach { e =>
      val runs = run(spark, e, src, Files.createTempDirectory(s"graft_scale_${e.name}"))
      report(e, runs)
      store(Paths.get("SCALE.json"), record(spark, e, src, runs))
    } finally spark.stop()
  }
}
