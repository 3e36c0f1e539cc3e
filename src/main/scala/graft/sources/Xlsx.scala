package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Real `.xlsx` I/O with no third-party dependency: an xlsx is a ZIP of
  * XML parts, and the JDK ships both the ZIP codec and a StAX pull
  * parser. This is the reference's actual front door
  * (`pd.read_excel(file_path, sheet_name=0)`, loader.py:442) and back
  * door (multi-sheet report workbook, main.py:3133-4121) — the engine's
  * parquet/CSV paths remain the bulk-data route.
  *
  * Scale contract (100 TB): an Excel workbook is a single-machine
  * artifact BY FORMAT — ≤ 1,048,576 rows, produced/consumed by humans.
  * The reader parses on the driver and parallelizes the resulting rows
  * into a DataFrame (the price lists this serves are ~10⁴ rows); the
  * writer collects — guarded by Excel's own row limit — and streams the
  * ZIP. Anything larger than a workbook belongs in parquet, where the
  * distributed scans live.
  *
  * Reader semantics (pandas parity):
  *  - row 0 is the header; empty/missing header cells become
  *    `Unnamed: N` (0-based column index) exactly like pandas — the
  *    reference's configs key on those names;
  *  - every cell surfaces as a STRING column (the engine's
  *    [[Canonicalize]] applies the config's coerce-casts, mirroring
  *    `_apply_data_types`), so xlsx and non-inferring CSV reads are
  *    interchangeable;
  *  - shared strings, inline strings, and raw numeric cells supported.
  */
object Xlsx {

  // ------------------------------------------------------------------ read

  /** Read worksheet `sheet` (1-based, default first — the reference
    * always reads sheet 0) into an all-string DataFrame.
    *
    * Front-door dispatch on MAGIC BYTES, not extension (the reference's
    * directory scan globs both `*.xlsx` and `*.xls` and pandas picks an
    * engine per file, loader.py:489-551): ZIP → OOXML path, OLE2/CFB →
    * the [[Biff8]] legacy reader (first sheet only), anything else → a
    * clear error instead of an opaque ZipFile failure. */
  def read(spark: SparkSession, path: String, sheet: Int = 1): DataFrame = {
    val head = {
      val in = new java.io.FileInputStream(path)
      try { val b = new Array[Byte](8); val n = in.read(b); b.take(math.max(n, 0)) }
      finally in.close()
    }
    val grid =
      if (head.length >= 2 && head(0) == 'P'.toByte && head(1) == 'K'.toByte)
        parseGrid(path, sheet)
      else if (Biff8.isCfb(head)) {
        require(sheet == 1, "legacy .xls: only the first sheet is supported")
        Biff8.parseGrid(path)
      } else throw new IllegalArgumentException(
        s"$path is not an Excel file (neither ZIP/xlsx nor OLE2/xls magic) — " +
          "convert it to .xlsx or parquet")
    require(grid.nonEmpty, s"empty worksheet: $path sheet $sheet")
    val header = grid.head
    val width = grid.map(_.length).max
    val names = (0 until width).map { i =>
      val h = if (i < header.length) header(i) else null
      if (h == null || h.trim.isEmpty) s"Unnamed: $i" else h
    }
    val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
    val rows = grid.tail.map { r =>
      Row.fromSeq((0 until width).map(i => if (i < r.length) r(i) else null))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Driver-side parse of one worksheet into a dense row-major grid of
    * nullable strings. */
  private[sources] def parseGrid(path: String, sheet: Int): Vector[Array[String]] = {
    val zf = new ZipFile(path)
    try {
      val shared = Option(zf.getEntry("xl/sharedStrings.xml"))
        .map(e => parseSharedStrings(zf, e)).getOrElse(Vector.empty)
      val entry = zf.getEntry(s"xl/worksheets/sheet$sheet.xml")
      require(entry != null, s"no sheet$sheet.xml in $path")
      val fac = XMLInputFactory.newInstance()
      fac.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      fac.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      val r = fac.createXMLStreamReader(zf.getInputStream(entry))
      val rows = Vector.newBuilder[Array[String]]
      var row: scala.collection.mutable.ArrayBuffer[String] = null
      var cellCol = -1
      var cellType: String = null
      var inV = false
      var inIs = false
      var text = new StringBuilder
      try {
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "row" => row = scala.collection.mutable.ArrayBuffer.empty[String]
                case "c" =>
                  cellCol = colIndex(Option(r.getAttributeValue(null, "r"))
                    .getOrElse(colRef(row.length) + "1"))
                  cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
                case "is" => inIs = true
                case "v" => inV = true; text = new StringBuilder
                case "t" if inIs => inV = true; text = new StringBuilder
                case _ =>
              }
            case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
              if (inV) text.append(r.getText)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "v" | "t" if inV =>
                  inV = false
                  val raw = text.toString
                  val value = cellType match {
                    case "s" => shared(raw.trim.toInt)
                    case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
                    case _ => raw
                  }
                  if (row != null && cellCol >= 0) {
                    while (row.length <= cellCol) row += null
                    // <is> may carry several <t> runs — concatenate
                    row(cellCol) =
                      if (row(cellCol) == null) value else row(cellCol) + value
                  }
                case "is" => inIs = false
                case "c" => cellCol = -1; cellType = null
                case "row" =>
                  if (row != null) rows += row.toArray
                  row = null
                case _ =>
              }
            case _ =>
          }
        }
      } finally r.close()
      rows.result()
    } finally zf.close()
  }

  private def parseSharedStrings(zf: ZipFile, e: ZipEntry): Vector[String] = {
    val fac = XMLInputFactory.newInstance()
    fac.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    fac.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = fac.createXMLStreamReader(zf.getInputStream(e))
    val out = Vector.newBuilder[String]
    var si: StringBuilder = null
    var inT = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => si = new StringBuilder
              case "t" => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inT && si != null) si.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "si" => out += si.toString; si = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    out.result()
  }

  /** "AB7" → 0-based column index 27. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** 0-based column index 27 → "AB". */
  private[graft] def colRef(idx: Int): String = {
    var n = idx + 1
    val sb = new StringBuilder
    while (n > 0) {
      val rem = (n - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  // ----------------------------------------------------------------- write

  /** S5 back door: write a multi-sheet workbook, one sheet per named
    * DataFrame (header row = df.columns, then data). Numeric columns
    * become numeric cells; everything else inline strings (with
    * xml:space preserved, so banner headers with trailing spaces and
    * embedded newlines survive a roundtrip). Collects on the driver —
    * valid by construction, an xlsx cannot exceed 1,048,575 data rows. */
  def write(sheets: Seq[(String, DataFrame)], path: String): Unit = {
    require(sheets.nonEmpty, "no sheets to write")
    val out = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def put(name: String, content: String): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes(StandardCharsets.UTF_8))
      out.closeEntry()
    }
    try {
      val n = sheets.length
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          "</Types>")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          "<sheets>" +
          sheets.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString +
          "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
          "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, df), i) =>
        put(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(df))
      }
    } finally out.close()
  }

  private def sheetXml(df: DataFrame): String = {
    val rows = df.collect()
    require(rows.length < 1048576, // Excel's hard sheet limit incl. header
      s"xlsx sheet cannot hold ${rows.length} rows — this data belongs in parquet")
    val numeric = df.schema.fields.map(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def cell(ref: String, v: Any, num: Boolean): Unit =
      if (v != null) {
        if (num)
          sb.append(s"""<c r="$ref"><v>$v</v></c>""")
        else
          sb.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${escape(v.toString)}</t></is></c>""")
      }
    sb.append("""<row r="1">""")
    df.columns.zipWithIndex.foreach { case (c, j) => cell(colRef(j) + "1", c, num = false) }
    sb.append("</row>")
    rows.zipWithIndex.foreach { case (r, i) =>
      sb.append(s"""<row r="${i + 2}">""")
      var j = 0
      while (j < r.length) {
        cell(colRef(j) + (i + 2), r.get(j), numeric(j))
        j += 1
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  // --------------------------------------------------------------- rewrite

  /** S6/S7 formatting-preserving in-place writeback — the reference
    * updates price/article cells in an EXISTING workbook and openpyxl
    * carries each cell's formatting through (main.py:7007-7244). Here:
    * every zip part (styles.xml, themes, column widths, the other
    * sheets) is copied byte-for-byte; only the target sheet's XML is
    * DOM-patched, and a patched cell keeps ALL its attributes —
    * crucially `s`, the style index that IS a cell's formatting in
    * OOXML — while its value children are replaced. Untouched cells
    * pass through the DOM round-trip with attributes intact
    * (XlsxSpec pins styles.xml byte-equality and per-cell `s`
    * survival on a styled fixture).
    *
    * `updates` maps A1-style cell refs to new NUMERIC values (the S6
    * price path; string writeback would also have to edit
    * sharedStrings — out of this seam's scope). Unknown refs fail
    * loudly: a silent no-op price update is the one outcome a pricing
    * flow must never have. */
  def rewrite(src: String, dst: String, updates: Map[String, String], sheet: Int = 1): Unit = {
    import scala.jdk.CollectionConverters._
    val target = s"xl/worksheets/sheet$sheet.xml"
    val zf = new ZipFile(src)
    try {
      // fail BEFORE writing anything: a workbook without the target
      // sheet part must not silently produce an unpatched copy
      require(zf.getEntry(target) != null, s"$src has no $target — wrong sheet index?")
      val out = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(dst)))
      try {
        for (e <- zf.entries().asScala) {
          out.putNextEntry(new ZipEntry(e.getName))
          val bytes = zf.getInputStream(e).readAllBytes()
          if (e.getName == target) out.write(patchSheetXml(bytes, updates))
          else out.write(bytes)
          out.closeEntry()
        }
      } finally out.close()
    } finally zf.close()
  }

  private def patchSheetXml(xml: Array[Byte], updates: Map[String, String]): Array[Byte] = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(xml))
    // Snapshot the live NodeList once: every DOM mutation below
    // invalidates its cache, and indexing it afterwards re-walks the
    // document from the start — O(updates × cells) on a big sheet.
    val live = doc.getElementsByTagName("c")
    val cells = Array.tabulate(live.getLength)(i => live.item(i).asInstanceOf[org.w3c.dom.Element])
    val remaining = scala.collection.mutable.Set.empty[String] ++ updates.keySet
    cells.foreach { c =>
      val ref = c.getAttribute("r")
      updates.get(ref).foreach { v =>
        c.removeAttribute("t") // numeric cell: no type attribute
        while (c.hasChildNodes) c.removeChild(c.getFirstChild)
        val ve = doc.createElement("v")
        ve.setTextContent(v)
        c.appendChild(ve)
        remaining -= ref
      }
    }
    require(remaining.isEmpty,
      s"rewrite targets not present in sheet: ${remaining.toSeq.sorted.mkString(", ")}")
    val tf = javax.xml.transform.TransformerFactory.newInstance().newTransformer()
    tf.setOutputProperty(javax.xml.transform.OutputKeys.ENCODING, "UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    tf.transform(new javax.xml.transform.dom.DOMSource(doc),
      new javax.xml.transform.stream.StreamResult(bos))
    bos.toByteArray
  }
}
