package perfbench

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

/** The checks' own workbook reader, independent of the engine's
  * `graft.sources.Xlsx`: one worksheet as cell ref -> text, holding the
  * raw `<v>` text of numeric cells and the string of text cells. */
object XlsxGrid {
  def read(path: String, sheet: Int = 1): Map[String, String] = {
    val zf = new ZipFile(path)
    try {
      val shared = mutable.ArrayBuffer.empty[String]
      Option(zf.getEntry("xl/sharedStrings.xml")).foreach { e =>
        val sb = new StringBuilder
        walk(zf.getInputStream(e))(
          start = (name, _) => if (name == "si") sb.clear(),
          text = (inside, t) => if (inside == "t") sb.append(t),
          end = name => if (name == "si") shared += sb.toString)
      }
      val entry = zf.getEntry(s"xl/worksheets/sheet$sheet.xml")
      require(entry != null, s"$path has no sheet $sheet")
      val cells = mutable.LinkedHashMap.empty[String, String]
      var ref: String = null
      var kind: String = null
      val sb = new StringBuilder
      walk(zf.getInputStream(entry))(
        start = (name, r) => if (name == "c") {
          ref = r.getAttributeValue(null, "r")
          kind = r.getAttributeValue(null, "t")
          sb.clear()
        },
        text = (inside, t) => if (ref != null && (inside == "v" || inside == "t")) sb.append(t),
        end = name => if (name == "c") {
          cells(ref) = if (kind == "s") shared(sb.toString.trim.toInt) else sb.toString
          ref = null
        })
      cells.toMap
    } finally zf.close()
  }

  /** Data rows of a sheet whose first row is a header. */
  def dataRows(cells: Map[String, String]): Int =
    cells.keys.map(r => r.dropWhile(_.isLetter).toInt).maxOption.getOrElse(1) - 1

  /** Stream an XML part: element starts (with the reader, for its
    * attributes), text with the innermost open element, element ends. */
  private def walk(in: java.io.InputStream)(
      start: (String, XMLStreamReader) => Unit,
      text: (String, String) => Unit,
      end: String => Unit): Unit = {
    val fac = XMLInputFactory.newInstance()
    fac.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    fac.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = fac.createXMLStreamReader(in)
    var open: List[String] = Nil
    try {
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          open = r.getLocalName :: open
          start(r.getLocalName, r)
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          open.headOption.foreach(text(_, r.getText))
        case XMLStreamConstants.END_ELEMENT =>
          end(r.getLocalName)
          open = open.drop(1)
        case _ =>
      }
    } finally r.close()
  }
}
