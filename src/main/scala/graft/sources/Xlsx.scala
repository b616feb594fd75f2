package graft.sources

import java.io.InputStream
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants.{CDATA, CHARACTERS, DTD, END_ELEMENT, SPACE, START_ELEMENT}
import javax.xml.stream.util.StreamReaderDelegate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Native xlsx (Office Open XML) workbook reader — no external
  * dependencies: an .xlsx file is a zip of XML parts, and the JDK ships
  * the zip codec and the XML parser used here. Every part (`workbook.xml`,
  * its rels part, `sharedStrings.xml` and the sheet) is read in one
  * streaming StAX pass (no document tree; cells are built as their end tags
  * arrive) that refuses DTDs and never resolves an external entity. Mirrors the reference's openpyxl
  * usage (SQL_DATA_INTEGRATION_TOOL.py:555-577: open workbook, list sheet
  * names, read a chosen sheet into rows, first row = headers).
  *
  * Deliberately DRIVER-SIDE, like the reference: workbooks are import-
  * scale artifacts (humans mail them), not data-lake tables — the result
  * lands in a DataFrame and from there the pipeline is the usual
  * MappedImport → appendTo. Anything 100 TB-sized arrives as
  * parquet/csv/json and never goes near this code path.
  *
  * Covers the parts real-world writers emit: sharedStrings (t="s"),
  * inline strings (t="inlineStr"/"str"), numbers (no t), booleans
  * (t="b"), sparse rows (cells carry their "A1"-style address), and
  * workbook→worksheet relationship resolution (sheet order in
  * workbook.xml is NOT part order in the zip).
  */
object Xlsx {

  /** Sheet names, in workbook order. */
  def listSheets(path: String): Seq[String] = withZip(path)(sheets(_).map(_._1))

  /** One sheet as a DataFrame of strings; first row = column names (the
    * reference's header convention). Cast/rename downstream via
    * MappedImport, same as every other source. */
  def readSheet(spark: SparkSession, path: String, sheet: String): DataFrame = {
    val rows = readRows(path, sheet)
    require(rows.nonEmpty, s"sheet '$sheet' in $path is empty")
    val header = rows.head.map(h => if (h == null || h.isEmpty) "_c" else h)
    val width = header.length
    val data = rows.tail.map(r => r.padTo(width, null).take(width))
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(
      header.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType, nullable = true)))
    spark.createDataFrame(
      data.map(org.apache.spark.sql.Row.fromSeq(_)).toList.asJava, schema)
  }

  /** Raw cell grid of one sheet (dense, row-major, nulls for gaps). */
  def readRows(path: String, sheet: String): Seq[Array[String]] = withZip(path) { zip =>
    val all = sheets(zip)
    val rid = all.find(_._1 == sheet).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"no sheet '$sheet' in $path (have: ${all.map(_._1).mkString(", ")})"))
    val part = elementAttributes(zip, "xl/_rels/workbook.xml.rels", "Relationship", "Id", "Target")
      .find(_.head == rid)
      .map(_(1))
      .getOrElse(throw new IllegalStateException(s"unresolved sheet relationship $rid"))
    val sheetPath = if (part.startsWith("/")) part.drop(1) else "xl/" + part
    val shared: IndexedSeq[String] =
      if (zip.getEntry("xl/sharedStrings.xml") == null) IndexedSeq.empty
      else sharedStrings(zip)
    sheetRows(zip, sheetPath, shared)
  }

  /** The workbook's sheets in order, as (name, relationship id); some
    * writers emit the id unprefixed. */
  private def sheets(zip: ZipFile): Seq[(String, String)] =
    elementAttributes(zip, "xl/workbook.xml", "sheet", "name", "r:id", "id")
      .map { case Seq(name, rid, id) => (name, if (rid.nonEmpty) rid else id) }

  /** The `names` attributes of every `tag` element of a part, in document
    * order. */
  private def elementAttributes(zip: ZipFile, entry: String, tag: String, names: String*): Seq[Seq[String]] =
    stream(zip, entry) { r =>
      val out = mutable.ArrayBuffer.empty[Seq[String]]
      while (r.hasNext)
        if (r.next() == START_ELEMENT && named(r, tag)) out += names.map(attribute(r, _))
      out.toSeq
    }

  /** The `<si>` texts in order, each the concatenation of every text node
    * under it — rich-text runs, phonetic runs and whitespace alike, as
    * DOM's `getTextContent` gives it. */
  private def sharedStrings(zip: ZipFile): IndexedSeq[String] = stream(zip, "xl/sharedStrings.xml") { r =>
    val out = mutable.ArrayBuffer.empty[String]
    var si: java.lang.StringBuilder = null
    while (r.hasNext) r.next() match {
      case START_ELEMENT if named(r, "si") => si = new java.lang.StringBuilder
      case END_ELEMENT if named(r, "si") => out += si.toString; si = null
      case CHARACTERS | CDATA | SPACE if si != null => appendText(r, si)
      case _ =>
    }
    out.toIndexedSeq
  }

  /** Cell grid of one sheet part. A cell's value is the text of its first
    * `<v>`, else of its first `<is>` (inline string, runs concatenated);
    * `t="s"` indexes the shared strings, `t="b"` maps 1/0 to true/false,
    * anything else is the text as written. */
  private def sheetRows(zip: ZipFile, part: String, shared: IndexedSeq[String]): Seq[Array[String]] =
    stream(zip, part) { r =>
      val rows = mutable.ArrayBuffer.empty[Array[String]]
      var cells: mutable.ArrayBuffer[String] = null // open <row>
      var inCell, inV, inIs = false // inside a <c>; inside its first <v> / <is>
      var idx = 0
      var t = ""
      var v, inline: java.lang.StringBuilder = null
      while (r.hasNext) r.next() match {
        case START_ELEMENT =>
          if (named(r, "row")) cells = mutable.ArrayBuffer.empty[String]
          else if (cells != null && !inCell && named(r, "c")) {
            inCell = true
            idx = colIndex(attribute(r, "r"))
            t = attribute(r, "t")
            v = null; inline = null
          } else if (inCell && v == null && named(r, "v")) {
            v = new java.lang.StringBuilder; inV = true
          } else if (inCell && inline == null && named(r, "is")) {
            inline = new java.lang.StringBuilder; inIs = true
          }
        case CHARACTERS | CDATA | SPACE if inCell =>
          if (inV) appendText(r, v)
          if (inIs) appendText(r, inline)
        case END_ELEMENT =>
          if (inCell && named(r, "c")) {
            inCell = false
            val text = Option(if (v != null) v else inline).map(_.toString)
            while (cells.size <= idx) cells += null
            cells(idx) = t match {
              case "s" => text.map(x => shared(x.trim.toInt)).orNull
              case "b" => text.map(x => if (x.trim == "1") "true" else "false").orNull
              case _ => text.orNull // inlineStr/str/number: text as written
            }
          } else if (inCell && named(r, "v")) inV = false
          else if (inCell && named(r, "is")) inIs = false
          else if (cells != null && named(r, "row")) { rows += cells.toArray; cells = null }
        case _ =>
      }
      rows.toSeq
    }

  /** 0-based column index from an "BC23"-style cell address. */
  private[graft] def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    require(letters.nonEmpty, s"cell address '$ref' has no column letters")
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1
  }

  private def withZip[A](path: String)(f: ZipFile => A): A = {
    val zip = new ZipFile(path)
    try f(zip) finally zip.close()
  }

  private def openPart(zip: ZipFile, entry: String): InputStream = {
    val e = zip.getEntry(entry)
    require(e != null, s"missing xlsx part: $entry")
    zip.getInputStream(e)
  }

  /** One streaming pass over a part. Namespace-unaware (element names are
    * matched prefix-tolerantly, attributes by qualified name); a DOCTYPE
    * fails the read at once, and the resolver refuses every external entity, so workbook
    * content can never make the reader open another resource. */
  private def stream[A](zip: ZipFile, entry: String)(f: XMLStreamReader => A): A = {
    val in = openPart(zip, entry)
    try {
      val fac = XMLInputFactory.newDefaultFactory()
      fac.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
      fac.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      fac.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      fac.setXMLResolver((_: String, systemId: String, _: String, _: String) =>
        throw new XMLStreamException(s"xlsx part $entry: external entity '$systemId' refused"))
      val r = fac.createXMLStreamReader(in)
      try {
        val guarded = new StreamReaderDelegate(r) {
          override def next(): Int = {
            val ev = super.next()
            if (ev == DTD) throw new XMLStreamException(
              s"xlsx part $entry declares a DOCTYPE; DTDs are not allowed in workbook parts")
            ev
          }
        }
        f(guarded)
      } finally r.close()
    } finally in.close()
  }

  private def named(r: XMLStreamReader, tag: String): Boolean = {
    val n = r.getLocalName // the qualified name: the factory is namespace-unaware
    n == tag || n.endsWith(":" + tag)
  }

  /** Value of the attribute whose qualified name is `name` (`r:id` names
    * the prefixed one), "" when absent. */
  private def attribute(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      val prefix = Option(r.getAttributePrefix(i)).getOrElse("")
      val local = r.getAttributeLocalName(i)
      if ((if (prefix.isEmpty) local else s"$prefix:$local") == name) return r.getAttributeValue(i)
      i += 1
    }
    ""
  }

  private def appendText(r: XMLStreamReader, sb: java.lang.StringBuilder): Unit =
    sb.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
}
