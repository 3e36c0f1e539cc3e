package graft

import graft.sources.Xlsx
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JDK-only xlsx codec: roundtrip fidelity, pandas header semantics,
  * multi-sheet report writing, and the committed fixture's equivalence
  * to its CSV twin. */
class XlsxSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  test("column ref encoding roundtrips") {
    Seq(0, 1, 25, 26, 27, 51, 52, 701, 702).foreach { i =>
      assert(Xlsx.colIndex(Xlsx.colRef(i) + "7") === i, s"idx $i ref ${Xlsx.colRef(i)}")
    }
    assert(Xlsx.colRef(0) === "A" && Xlsx.colRef(26) === "AA" && Xlsx.colRef(701) === "ZZ")
  }

  test("write → read roundtrip preserves strings, numbers, nulls, Unicode") {
    SparkTestBase.withTempDir("xlsx") { dir =>
      import spark.implicits._
      val df = Seq(
        ("Power bank Xiaomi", Some(12.5), Some(44001L), "хит & <спец> \"кавычки\""),
        ("Кабель\nдве строки", None, None, "хвостовой пробел  "),
        (null, Some(0.0), Some(-7L), null))
        .toDF("name", "price", "article", "note")
      val path = s"$dir/rt.xlsx"
      Xlsx.write(Seq(("data", df)), path)
      val back = Xlsx.read(spark, path)
      assert(back.columns.toSeq === Seq("name", "price", "article", "note"))
      val got = back.orderBy("name").collect().map(_.toSeq)
      val want = df
        .select(df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*)
        .orderBy("name").collect().map(_.toSeq)
      assert(got.toSeq === want.toSeq)
    }
  }

  test("empty header cells surface as pandas-style Unnamed: N") {
    SparkTestBase.withTempDir("xlsx") { dir =>
      import spark.implicits._
      val df = Seq(("a", "b", "c")).toDF("", "real", " ")
      val path = s"$dir/unnamed.xlsx"
      Xlsx.write(Seq(("s", df)), path)
      assert(Xlsx.read(spark, path).columns.toSeq === Seq("Unnamed: 0", "real", "Unnamed: 2"))
    }
  }

  test("multi-sheet report workbook: one sheet per dataset, read back by index") {
    SparkTestBase.withTempDir("xlsx") { dir =>
      val report = SparkEntry.queries("s5_report_summary")(spark, sfDir)
      val matches = SparkEntry.queries("j1_article_match")(spark, sfDir).limit(50)
      val path = s"$dir/report.xlsx"
      Xlsx.write(Seq(("Сводка", report), ("Совпадения", matches)), path)
      val s1 = Xlsx.read(spark, path, sheet = 1)
      assert(s1.columns.toSeq === report.columns.toSeq)
      assert(s1.count() === report.count())
      val s2 = Xlsx.read(spark, path, sheet = 2)
      assert(s2.columns.toSeq === matches.columns.toSeq)
      assert(s2.count() === 50)
    }
  }

  test("committed xlsx fixture decodes to exactly the CSV fixture's content") {
    val viaXlsx = SparkEntry.queries("s1_xlsx_read")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val viaCsv = SparkEntry.queries("s3_ref_config_csv")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(viaXlsx === viaCsv)
    assert(viaXlsx.nonEmpty)
  }

  test("writer refuses data that cannot fit an xlsx sheet") {
    SparkTestBase.withTempDir("xlsx") { dir =>
      val big = spark.range(1048576).toDF("id")
      val e = intercept[IllegalArgumentException](
        Xlsx.write(Seq(("too-big", big)), s"$dir/big.xlsx"))
      assert(e.getMessage.contains("parquet"))
    }
  }

  // ---- formatting-preserving rewrite (S6/S7 writeback) -------------------

  /** A styled workbook the engine's own writer can't produce: cells
    * carry `s` style indices and styles.xml defines the formats —
    * exactly what the reference's openpyxl path preserves. */
  private def writeStyledFixture(path: String): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val entries = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>"),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>"),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Прайс" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
          "</Relationships>"),
      "xl/styles.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
          """<numFmts count="1"><numFmt numFmtId="164" formatCode="#,##0.00\ &quot;₽&quot;"/></numFmts>""" +
          """<fonts count="2"><font><sz val="11"/></font><font><b/><sz val="12"/></font></fonts>""" +
          """<cellXfs count="3"><xf numFmtId="0" fontId="0"/><xf numFmtId="0" fontId="1"/>""" +
          """<xf numFmtId="164" fontId="0"/></cellXfs></styleSheet>"""),
      "xl/worksheets/sheet1.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
          """<row r="1"><c r="A1" s="1" t="inlineStr"><is><t>Товар</t></is></c>""" +
          """<c r="B1" s="1" t="inlineStr"><is><t>Цена</t></is></c></row>""" +
          """<row r="2"><c r="A2" t="inlineStr"><is><t>Кабель</t></is></c>""" +
          """<c r="B2" s="2"><v>100</v></c></row>""" +
          """<row r="3"><c r="A3" t="inlineStr"><is><t>Адаптер</t></is></c>""" +
          """<c r="B3" s="2"><v>50.5</v></c></row>""" +
          "</sheetData></worksheet>"))
    val out = new ZipOutputStream(new java.io.FileOutputStream(path))
    try entries.foreach { case (name, content) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    } finally out.close()
  }

  private def entryBytes(path: String, name: String): Array[Byte] = {
    val zf = new java.util.zip.ZipFile(path)
    try zf.getInputStream(zf.getEntry(name)).readAllBytes() finally zf.close()
  }

  test("rewrite updates price cells while formatting survives byte-for-byte") {
    SparkTestBase.withTempDir("xlsx") { dir =>
      val src = s"$dir/styled.xlsx"
      val dst = s"$dir/updated.xlsx"
      writeStyledFixture(src)
      Xlsx.rewrite(src, dst, Map("B2" -> "149.5", "B3" -> "75"))

      // the price update itself took
      val rows = Xlsx.read(spark, dst).collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
        Seq(("Кабель", "149.5"), ("Адаптер", "75")))

      // formatting: styles.xml (the format definitions) byte-identical...
      assert(java.util.Arrays.equals(entryBytes(dst, "xl/styles.xml"),
        entryBytes(src, "xl/styles.xml")), "styles.xml must pass through untouched")
      // ...and every cell keeps its style index, including the two patched
      val sheet = new String(entryBytes(dst, "xl/worksheets/sheet1.xml"), "UTF-8")
      def cellXml(ref: String): String =
        s"""<c r="$ref"[^>]*>.*?</c>""".r.findFirstIn(sheet)
          .getOrElse(fail(s"cell $ref missing from rewritten sheet"))
      assert(cellXml("B2").contains("s=\"2\"") && cellXml("B2").contains("<v>149.5</v>"))
      assert(cellXml("B3").contains("s=\"2\"") && cellXml("B3").contains("<v>75</v>"))
      assert(cellXml("A1").contains("s=\"1\"") && cellXml("A1").contains("Товар"))
      assert(cellXml("A2").contains("Кабель"), "untouched cells pass through")

      // a typo'd target must fail loudly, not silently skip the update
      val e = intercept[IllegalArgumentException](
        Xlsx.rewrite(src, s"$dir/bad.xlsx", Map("B2" -> "1", "Z99" -> "2")))
      assert(e.getMessage.contains("Z99"))
      // ...and so must a missing sheet part (before any output is written)
      val e2 = intercept[IllegalArgumentException](
        Xlsx.rewrite(src, s"$dir/bad2.xlsx", Map("B2" -> "1"), sheet = 7))
      assert(e2.getMessage.contains("sheet7"))

      // a whole-column update (the writeback of a repriced list): every
      // cell of the price column lands, every other cell is unchanged
      import spark.implicits._
      val n = 3000
      val list = (1 to n).map(i => (s"item $i", i.toDouble, s"note $i")).toDF("name", "price", "note")
      val listSrc = s"$dir/list.xlsx"
      val listDst = s"$dir/list_updated.xlsx"
      Xlsx.write(Seq(("list", list)), listSrc)
      Xlsx.rewrite(listSrc, listDst,
        (1 to n).map(i => s"B${i + 1}" -> s"${i * 10}").toMap)
      val before = Xlsx.read(spark, listSrc).collect().map(r => (r.getString(0), r.getString(2)))
      val after = Xlsx.read(spark, listDst).collect()
      assert(after.length === n)
      assert(after.map(_.getString(1)).toSeq === (1 to n).map(i => s"${i * 10}"))
      assert(after.map(r => (r.getString(0), r.getString(2))).toSeq === before.toSeq)
    }
  }
}
