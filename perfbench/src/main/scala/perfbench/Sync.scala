package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.preprocess.Preprocess
import graft.queries.Caches
import graft.sources.{Canonicalize, ConfigLoader, Xlsx}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What the generator recorded about one input directory. */
final case class Expected(supplierRows: Long, baseRows: Long, newItems: Long, updated: Long)

object Expected {
  def load(dir: String): Expected = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(dir, "expected.json")))
    Expected(j.get("supplier_rows").asLong, j.get("base_rows").asLong,
      j.get("new_items").asLong, j.get("updated").asLong)
  }
}

/** Everything one sync op produced that the checks look at. */
final case class SyncOutput(
    items: Long,
    canon: DataFrame,
    supplierArticles: Set[Long],
    cascade: Array[Row],
    fuzzy: Array[Row],
    prices: Array[Row],
    counters: Row,
    report: Seq[(String, Int)],
    reportPath: String,
    updates: Map[String, String],
    rewrittenPath: String)

/** One price list synced end to end, as seven layer calls:
  *
  *  1. sources.load       Xlsx.read, ConfigLoader.fromJson, Canonicalize
  *  2. preprocess         Preprocess.vitya
  *  3. queries.match      e2_cascade
  *  4. operators.fuzzy    j5_fuzzy_batch
  *  5. queries.mutation   s6, s7, s8, a10, s5
  *  6. sources.report     Xlsx.write of the report workbook
  *  7. sources.writeback  Xlsx.rewrite of the base workbook
  *
  * preceded by `Caches.release` (layer queries.caches), so no op is
  * served by the previous op's cascade memo. */
final class Sync(dir: String, outDir: String) {
  private val queries = SparkEntry.queries
  private val configJson =
    new String(Files.readAllBytes(Paths.get(dir, "vitya_config.json")), StandardCharsets.UTF_8)
  val basePath = s"$dir/base.xlsx"
  private val supplierPath = s"$dir/supplier.xlsx"
  private val supplierCells = XlsxGrid.read(supplierPath).size

  /** Run one op. `broken` points the load at a file that does not
    * exist, which is how the benchmark's own tests inject a failure. */
  def op(spark: SparkSession, t: Tracer, id: Int, broken: Boolean = false): SyncOutput = {
    t.span("queries.caches", id) {
      if (t.enabled) {
        t.add(id, "queries.caches", "cached_bytes",
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
      }
      val t0 = System.nanoTime()
      val released = Caches.release(spark, dir)
      t.add(id, "queries.caches", "release_s", (System.nanoTime() - t0) / 1e9)
      t.add(id, "queries.caches", "released", released.toDouble)
    }

    val canon = t.span("sources.load", id) {
      val raw = Xlsx.read(spark, if (broken) s"$dir/missing.xlsx" else supplierPath)
      val c = Canonicalize(raw, ConfigLoader.fromJson(configJson))
      t.add(id, "sources.load", "bytes", Files.size(Paths.get(supplierPath)).toDouble)
      t.add(id, "sources.load", "cells", supplierCells.toDouble)
      c
    }
    val pre = sparkCall(t, "preprocess", id)(Preprocess.vitya(canon))
    val cascade = sparkCall(t, "queries.match", id)(queries("e2_cascade")(spark, dir))
    val fuzzy = sparkCall(t, "operators.fuzzy", id)(queries("j5_fuzzy_batch")(spark, dir))
    val mutation = t.span("queries.mutation", id) {
      Seq("s6_price_rewrite", "s7_article_fill", "s8_insert_rows",
        "a10_update_counters", "s5_report_summary").map { q =>
        q -> called(t, "queries.mutation", id)(queries(q)(spark, dir))
      }.toMap
    }

    val prices = mutation("s6_price_rewrite")
    val sheets = Seq(
      "cascade" -> cascade, "fuzzy" -> fuzzy,
      "price_changes" -> (prices._1, prices._2.filter(_.getAs[Boolean]("updated"))),
      "article_fill" -> mutation("s7_article_fill"),
      "insert_plan" -> mutation("s8_insert_rows"),
      "counters" -> mutation("a10_update_counters"),
      "summary" -> mutation("s5_report_summary"))
    val reportPath = s"$outDir/report.xlsx"
    t.span("sources.report", id) {
      Xlsx.write(sheets.map { case (name, (df, rows)) =>
        name -> spark.createDataFrame(rows.toSeq.asJava, df.schema)
      }, reportPath)
      t.add(id, "sources.report", "bytes", Files.size(Paths.get(reportPath)).toDouble)
      t.add(id, "sources.report", "cells",
        sheets.map { case (_, (df, rows)) => df.columns.length * (rows.length + 1) }.sum.toDouble)
    }

    // s6 lists the base in article order, which is the base workbook's
    // row order: data row i is sheet row i + 2, its price cell C{i + 2}.
    val updates = prices._2.zipWithIndex.collect {
      case (r, i) if r.getAs[Boolean]("updated") => s"C${i + 2}" -> r.getAs[Double]("new_price").toString
    }.toMap
    val rewrittenPath = s"$outDir/base.xlsx"
    t.span("sources.writeback", id) {
      val t0 = System.nanoTime()
      Xlsx.rewrite(basePath, rewrittenPath, updates)
      val s = (System.nanoTime() - t0) / 1e9
      t.add(id, "sources.writeback", "bytes", Files.size(Paths.get(rewrittenPath)).toDouble)
      t.add(id, "sources.writeback", "cells", updates.size.toDouble)
      t.add(id, "sources.writeback", "cells_per_s", updates.size / s)
    }

    val candidates = cascade._2.count(_.getAs[String]("found_by") != "article")
    val resolved = cascade._2.count(_.getAs[String]("found_by") != "new")
    t.add(id, "operators.fuzzy", "match_ratio", fuzzy._2.length.toDouble / math.max(candidates, 1))
    t.add(id, "queries.match", "resolved_ratio",
      resolved.toDouble / math.max(cascade._2.length, 1))

    SyncOutput(
      items = pre._2.length.toLong,
      canon = canon,
      supplierArticles = pre._2.map(_.getAs[Long]("article_vitya")).toSet,
      cascade = cascade._2, fuzzy = fuzzy._2, prices = prices._2,
      counters = mutation("a10_update_counters")._2.head,
      report = sheets.map { case (name, (_, rows)) => name -> rows.length },
      reportPath = reportPath, updates = updates, rewrittenPath = rewrittenPath)
  }

  /** One Spark-backed layer call of one query. */
  private def sparkCall(t: Tracer, layer: String, id: Int)(build: => DataFrame): (DataFrame, Array[Row]) =
    t.span(layer, id)(called(t, layer, id)(build))

  /** Build, plan and run a query, split as construct (the query
    * function), plan (`executedPlan`) and execute (`collect`). */
  private def called(t: Tracer, layer: String, id: Int)(build: => DataFrame): (DataFrame, Array[Row]) = {
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    val t3 = System.nanoTime()
    if (t.enabled) {
      t.add(id, layer, "construct_s", (t1 - t0) / 1e9)
      t.add(id, layer, "plan_s", (t2 - t1) / 1e9)
      t.add(id, layer, "execute_s", (t3 - t2) / 1e9)
      df.queryExecution.tracker.phases.foreach { case (phase, summary) =>
        t.add(id, layer, s"${phase}_s", summary.durationMs / 1e3)
      }
    }
    (df, rows)
  }
}

/** The per-op output checks. Each returns the problems it found. */
object SyncChecks {
  val Stages = Set("article", "bracket", "unified", "new")

  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted
      .foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  def apply(o: SyncOutput, exp: Expected, baseGrid: Map[String, String]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

    // the canonicalized supplier rows are the rows the cascade sees
    val canonRows = o.canon.count()
    check(canonRows == exp.supplierRows, s"canonicalized rows $canonRows != ${exp.supplierRows}")
    check(o.items == canonRows, s"preprocessed rows ${o.items} != canonicalized $canonRows")
    check(o.cascade.length == canonRows, s"cascade rows ${o.cascade.length} != supplier rows $canonRows")

    // the cascade's stage rows partition the supplier articles
    val arts = o.cascade.map(_.getAs[Long]("article"))
    check(arts.distinct.length == arts.length, "an article appears in two cascade stages")
    check(arts.toSet == o.supplierArticles, "cascade articles differ from the supplier's")
    check(o.cascade.forall(r => Stages(r.getAs[String]("found_by"))), "unknown cascade stage")
    val byStage = o.cascade.groupBy(_.getAs[String]("found_by")).map { case (k, v) => k -> v.length }
    check(byStage.getOrElse("article", 0) == exp.baseRows,
      s"article-stage rows ${byStage.getOrElse("article", 0)} != base rows ${exp.baseRows}")
    check(o.cascade.length - byStage.getOrElse("article", 0) == exp.newItems,
      s"code/new-stage rows != generated new items ${exp.newItems}")

    // fuzzy scores are in range and only score unmatched candidates
    val pool = o.cascade.filter(_.getAs[String]("found_by") != "article")
      .map(_.getAs[Long]("article")).toSet
    check(o.fuzzy.forall { r =>
      val s = r.getAs[Double]("fuzzy_sim"); s >= 0.33 && s <= 1.0
    }, "a fuzzy_sim outside [0.33, 1]")
    check(o.fuzzy.forall(r => pool(r.getAs[Long]("article"))), "fuzzy matched a base article")

    // price updates agree with the generator and with a10
    check(o.prices.length == exp.baseRows, s"s6 rows ${o.prices.length} != base rows ${exp.baseRows}")
    check(o.updates.size == exp.updated, s"updated cells ${o.updates.size} != ${exp.updated}")
    check(o.counters.getAs[Long]("updated") == exp.updated, "a10 updated count disagrees")
    check(o.counters.getAs[Long]("base_total") == exp.baseRows, "a10 base total disagrees")

    // the report, read back, has every sheet's rows
    o.report.zipWithIndex.foreach { case ((name, n), i) =>
      val got = XlsxGrid.dataRows(XlsxGrid.read(o.reportPath, i + 1))
      check(got == n, s"report sheet $name holds $got rows, expected $n")
    }

    // the rewritten base holds the new prices in the updated cells and
    // every other cell unchanged
    val before = baseGrid
    val after = XlsxGrid.read(o.rewrittenPath)
    check(before.keySet == after.keySet, "rewrite added or removed cells")
    o.prices.zipWithIndex.foreach { case (r, i) =>
      check(before.get(s"A${i + 2}").map(_.toDouble.toLong).contains(r.getAs[Long]("article")),
        s"base row ${i + 2} is not article ${r.getAs[Long]("article")}")
    }
    before.foreach { case (ref, v) =>
      o.updates.get(ref) match {
        case Some(nv) =>
          check(after.get(ref).exists(_.toDouble == nv.toDouble), s"$ref holds ${after.get(ref)}, expected $nv")
        case None => check(after.get(ref).contains(v), s"untouched cell $ref changed")
      }
    }
    problems.result()
  }
}
