package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.EventStream

/** Streaming-throughput harness (BASELINE.md's streaming numbers —
  * r12 verdict #7): drives the three stream-admission twins with
  * replicated arrival waves over the LANDED indexes at
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line per twin with
  * arrivals/s and end-of-run state rows.
  *
  * Methodology: index build cost is EXCLUDED (artifacts land before
  * the stream starts — the landed-index contract; Bench's cold map
  * already prices builds). The first wave is an untimed warmup
  * (codegen + the semantic axis's static-side cache). Each timed wave
  * advances event time by 3 h — past the 2 h watermark — so earlier
  * waves' aggregation state EVICTS and the reported state_rows proves
  * the fixed-state-bound claim: state stays one group per arrival in
  * the horizon no matter how long the stream runs.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (4),
  * SPARK_GRAFT_WAVES (4 timed waves), SPARK_GRAFT_REPL (4 — arrival
  * pool = batch split × REPL with fresh doc_ids).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val waves = sys.env.getOrElse("SPARK_GRAFT_WAVES", "4").toInt
    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "4").toInt
    val spark = graft.GraftSession.build()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def ts(wave: Int, i: Int): Timestamp =
      new Timestamp(base + wave * 3L * 3600 * 1000 + (i % 3600) * 1000L)

    // arrival pool: the batch split's documents, replicated repl× with
    // fresh doc_ids — same content mix the gates verify, more volume
    val baseArr = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0 && col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pool: Array[(Long, String)] = (0 until repl).flatMap(k =>
      baseArr.map { case (id, t) => (id + 1000000L * (k + 1), t) }).toArray

    // optional single-twin filter for targeted scaling runs
    val onlyTwin = sys.env.get("SPARK_GRAFT_TWIN")

    def drive(name: String, mk: DataFrame => DataFrame): Unit = {
      if (!onlyTwin.forall(_ == name)) return
      val input = MemoryStream[(Timestamp, Long, String)]
      val q = mk(input.toDF().toDF("ts", "doc_id", "text"))
        .writeStream.format("memory").queryName(s"bench_$name")
        .outputMode("append").start()
      try {
        // untimed warmup wave (codegen + static-side caches)
        input.addData(pool.zipWithIndex.map { case ((id, t), i) =>
          (ts(0, i), id, t) }.toSeq: _*)
        q.processAllAvailable()
        val t0 = System.nanoTime()
        var n = 0
        (1 to waves).foreach { w =>
          val data = pool.zipWithIndex.map { case ((id, t), i) =>
            (ts(w, i), id + 100000000L * w, t) }
          input.addData(data.toSeq: _*)
          q.processAllAvailable()
          n += data.length
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val state = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        println(f"""{"twin":"$name","sf":"$sfDir","arrivals":$n,"sec":$sec%.3f,""" +
          f""""arrivals_per_sec":${n / sec}%.1f,"state_rows":$state,""" +
          f""""wave_size":${pool.length}}""")
      } finally q.stop()
    }

    // index landings are LAZY so a targeted single-twin run (the
    // SPARK_GRAFT_TWIN scaling path) builds only the indexes that twin
    // actually serves — drive() skips filtered twins before it ever
    // forces the thunk (r14 advice: the eager lookups built all three
    // landings even when only one twin ran)
    val corpusDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
    lazy val gramIdx = spark.table(graft.queries.DedupQueries.d26LandingFor(spark, sfDir))
    drive("admitArrivalsBySubstring",
      in => EventStream.admitArrivalsBySubstring(in, gramIdx, corpusDocs))

    lazy val d34Idx = spark.table(graft.queries.DedupQueries.d34LandingFor(spark, sfDir))
    lazy val corpusDocs27 = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && length(col("text")) >= 27)
      .select("doc_id", "text")
    drive("admitArrivalsByFingerprint",
      in => EventStream.admitArrivalsByFingerprint(in, d34Idx, corpusDocs27))

    lazy val bpeVocab = spark.read
      .schema(graft.queries.PipelineQueries.bpeVocabSchema)
      .parquet(graft.queries.PipelineQueries.bpeModelFor(spark, sfDir) + "/vocab")
    drive("encodeArrivals",
      in => EventStream.encodeArrivals(in, bpeVocab))

    lazy val lmCounts = graft.queries.TextQueries.lmTrainCounts(spark, sfDir)
    drive("scoreArrivals",
      in => EventStream.scoreArrivals(in, lmCounts._1, lmCounts._2,
        lmCounts._3.collect()(0).getLong(0)))

    lazy val bandIdx = spark.table(graft.queries.DedupQueries.bandLandingFor(spark, sfDir))
    lazy val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    lazy val corpusVecs = vecs.filter(col("vec_id") % 10 =!= 0)
    drive("ingestVerdict",
      in => EventStream.ingestVerdict(in, corpusDocs, bandIdx, gramIdx, vecs, corpusVecs,
        cacheScope = sfDir))

    // the six-axis twin needs (ts, doc_id, text, source, lang) arrivals
    def driveFull(name: String, mk: DataFrame => DataFrame): Unit = {
      if (!onlyTwin.forall(_ == name)) return
      val baseArr5 = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 === 0 && col("text").isNotNull)
        .select("doc_id", "text", "source", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) null else r.getString(3)))
      val pool5 = (0 until repl).flatMap(k => baseArr5.map {
        case (id, t, src, lg) => (id + 1000000L * (k + 1), t, src, lg) }).toArray
      val input = MemoryStream[(Timestamp, Long, String, String, String)]
      val q = mk(input.toDF().toDF("ts", "doc_id", "text", "source", "lang"))
        .writeStream.format("memory").queryName(s"bench_$name")
        .outputMode("append").start()
      try {
        input.addData(pool5.zipWithIndex.map { case ((id, t, src, lg), i) =>
          (ts(0, i), id, t, src, lg) }.toSeq: _*)
        q.processAllAvailable()
        val t0 = System.nanoTime()
        var n = 0
        (1 to waves).foreach { w =>
          val data = pool5.zipWithIndex.map { case ((id, t, src, lg), i) =>
            (ts(w, i), id + 100000000L * w, t, src, lg) }
          input.addData(data.toSeq: _*)
          q.processAllAvailable()
          n += data.length
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val state = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        println(f"""{"twin":"$name","sf":"$sfDir","arrivals":$n,"sec":$sec%.3f,""" +
          f""""arrivals_per_sec":${n / sec}%.1f,"state_rows":$state,""" +
          f""""wave_size":${pool5.length}}""")
      } finally q.stop()
    }
    lazy val langProfile = graft.queries.PipelineQueries.langProfileFor(spark, sfDir)
    lazy val c3Store = spark.read
      .schema(graft.queries.TextQueries.lm3CountSchema)
      .parquet(graft.queries.TextQueries.lm3CountsLandingFor(spark, sfDir))
    lazy val blocklist = graft.queries.WebQueries.blockedFrame(spark, sfDir)
    lazy val domainHist = spark.read
      .schema(graft.queries.WebQueries.domainStatSchema)
      .parquet(graft.queries.WebQueries.e34DomainHistFor(spark, sfDir))
    driveFull("fullIngestVerdict",
      in => EventStream.fullIngestVerdict(in, corpusDocs, bandIdx, gramIdx,
        vecs, corpusVecs, langProfile, c3Store, blocklist, domainHist,
        cacheScope = sfDir))

    spark.stop()
  }
}
