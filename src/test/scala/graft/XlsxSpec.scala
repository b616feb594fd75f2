package graft

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.{ColumnSpec, MappedImport, Xlsx}

class XlsxSpec extends SparkSpec {

  /** Write a minimal-but-real two-sheet workbook: shared strings, inline
    * strings, numbers, booleans, a sparse row, and out-of-order sheet
    * relationships (rId2 listed first) — the parts a reader must actually
    * resolve rather than assume. */
  private def writeWorkbook(path: String, overrides: Map[String, String] = Map.empty): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def part(name: String, body: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" + overrides.getOrElse(name, body)).getBytes("UTF-8"))
      zos.closeEntry()
    }
    part("[Content_Types].xml",
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    // refunds listed FIRST but bound to sheet2.xml via rels
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets>
        |    <sheet name="refunds" sheetId="1" r:id="rId2"/>
        |    <sheet name="sales" sheetId="2" r:id="rId1"/>
        |  </sheets>
        |</workbook>""".stripMargin)
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/>
        |  <Relationship Id="rId2" Type="w" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="5" uniqueCount="5">
        |  <si><t>id</t></si><si><t>region</t></si><si><t>amount</t></si>
        |  <si><t>EMEA</t></si><si><t>APAC</t></si>
        |</sst>""".stripMargin)
    // sales: header from shared strings; row 3 is sparse (no B3); D column bool
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
        |      <c r="C1" t="s"><v>2</v></c><c r="D1" t="inlineStr"><is><t>flagged</t></is></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2"><v>1</v></c><c r="B2" t="s"><v>3</v></c>
        |      <c r="C2"><v>10.5</v></c><c r="D2" t="b"><v>1</v></c>
        |    </row>
        |    <row r="3">
        |      <c r="A3"><v>2</v></c><c r="C3"><v>20</v></c><c r="D3" t="b"><v>0</v></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin)
    part("xl/worksheets/sheet2.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c><c r="B1" t="inlineStr"><is><t>region</t></is></c></row>
        |    <row r="2"><c r="A2"><v>9</v></c><c r="B2" t="s"><v>4</v></c></row>
        |  </sheetData>
        |</worksheet>""".stripMargin)
    zos.close()
  }

  test("xlsx workbook: list sheets, read sheet, map-import downstream") {
    val wb = Files.createTempDirectory("xlsx").toString + "/book.xlsx"
    writeWorkbook(wb)
    assert(Xlsx.listSheets(wb) == Seq("refunds", "sales"))

    val sales = Xlsx.readSheet(spark, wb, "sales")
    assert(sales.columns.toSeq == Seq("id", "region", "amount", "flagged"))
    val rows = sales.collect().map(r => (0 until 4).map(r.getString)).toSeq
    assert(rows == Seq(
      Seq("1", "EMEA", "10.5", "true"),
      Seq("2", null, "20", "false"))) // sparse B3 surfaces as null

    // relationship indirection: "refunds" (listed first) must bind to sheet2
    val refunds = Xlsx.readSheet(spark, wb, "refunds")
    assert(refunds.collect().map(_.getString(1)).toSeq == Seq("APAC"))

    // downstream is the ordinary import pipeline
    val mapped = MappedImport(sales, Seq(
      ColumnSpec("id", "sale_id", castTo = Some("bigint")),
      ColumnSpec("amount", "amount", castTo = Some("double"))))
    assert(mapped.agg(org.apache.spark.sql.functions.sum("amount")).head().getDouble(0) == 30.5)
  }

  test("colIndex decodes multi-letter columns") {
    assert(Xlsx.colIndex("A1") == 0 && Xlsx.colIndex("Z9") == 25 &&
      Xlsx.colIndex("AA3") == 26 && Xlsx.colIndex("BC23") == 54)
  }

  test("missing sheet and missing part fail loudly") {
    val wb = Files.createTempDirectory("xlsx2").toString + "/book.xlsx"
    writeWorkbook(wb)
    val e = intercept[IllegalArgumentException](Xlsx.readRows(wb, "nope"))
    assert(e.getMessage.contains("no sheet"))
  }

  test("sheet relationships: an unprefixed id resolves, an unknown one fails loudly") {
    val dir = Files.createTempDirectory("xlsx_rels")
    def book(sheets: String): String = {
      val wb = dir.resolve(s"book${sheets.hashCode.abs}.xlsx").toString
      writeWorkbook(wb, Map("xl/workbook.xml" ->
        s"""<x:workbook xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
           |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<x:sheets>$sheets</x:sheets></x:workbook>""".stripMargin))
      wb
    }
    val unprefixed = book("""<x:sheet name="sales" id="rId2"/><x:sheet name="refunds" r:id="rId1"/>""")
    assert(Xlsx.listSheets(unprefixed) == Seq("sales", "refunds"))
    assert(Xlsx.readRows(unprefixed, "sales").map(_.toSeq).last == Seq("9", "APAC"))
    assert(Xlsx.readRows(unprefixed, "refunds").map(_.toSeq).last == Seq("2", null, "20", "false"))
    val e = intercept[IllegalStateException](Xlsx.readRows(book("""<x:sheet name="sales" r:id="rId9"/>"""), "sales"))
    assert(e.getMessage == "unresolved sheet relationship rId9")
  }

  /** The DOM reading the streaming parse replaced, kept as its oracle:
    * every `<si>`'s `getTextContent`; per `<row>`, each `<c>` at its
    * address, valued by its first `<v>`, else its first `<is>`. */
  private def domRows(wb: String, sheetPart: String): Seq[Seq[String]] = {
    import org.w3c.dom.{Element, Node}
    val zip = new java.util.zip.ZipFile(wb)
    try {
      def doc(entry: String): Element = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder().parse(zip.getInputStream(zip.getEntry(entry))).getDocumentElement
      def elements(root: Node, tag: String): Seq[Element] = {
        val kids = Iterator.iterate(root.getFirstChild)(_.getNextSibling).takeWhile(_ != null).toSeq
        kids.flatMap {
          case el: Element =>
            val n = el.getTagName
            (if (n == tag || n.endsWith(":" + tag)) Seq(el) else Nil) ++ elements(el, tag)
          case _ => Nil
        }
      }
      val shared = elements(doc("xl/sharedStrings.xml"), "si").map(_.getTextContent)
      elements(doc(sheetPart), "row").map { row =>
        val cells = scala.collection.mutable.ArrayBuffer.empty[String]
        elements(row, "c").foreach { c =>
          val idx = Xlsx.colIndex(c.getAttribute("r"))
          while (cells.size <= idx) cells += null
          val text = elements(c, "v").headOption.orElse(elements(c, "is").headOption).map(_.getTextContent)
          cells(idx) = c.getAttribute("t") match {
            case "s" => text.map(v => shared(v.trim.toInt)).orNull
            case "b" => text.map(v => if (v.trim == "1") "true" else "false").orNull
            case _ => text.orNull
          }
        }
        cells.toSeq
      }
    } finally zip.close()
  }

  private val richShared =
    """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |  <si><t>id</t></si><si><t>region</t></si><si><t>amount</t></si>
      |  <si><r><rPr><b/><sz val="11"/></rPr><t>EM</t></r>
      |    <r><t xml:space="preserve"> E </t></r><r><t>A</t></r><rPh sb="0" eb="2"><t>エメア</t></rPh>
      |    <phoneticPr fontId="1"/></si>
      |  <si><t>AP&amp;AC</t></si>
      |</sst>""".stripMargin

  test("streaming parse keeps the DOM cell semantics: rich text, formulas, prefixes, CDATA, gaps") {
    val wb = Files.createTempDirectory("xlsx3").toString + "/book.xlsx"
    writeWorkbook(wb, Map(
      "xl/sharedStrings.xml" -> richShared,
      "xl/worksheets/sheet1.xml" ->
        """<x:worksheet xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |  <x:sheetData>
          |    <x:row r="1">
          |      <x:c r="A1" t="s"><x:v>0</x:v></x:c><x:c r="B1" t="s"><x:v> 3 </x:v></x:c>
          |      <x:c r="C1" t="inlineStr"><x:is><x:r><x:t>ri</x:t></x:r><x:r><x:t xml:space="preserve">ch </x:t></x:r></x:is></x:c>
          |    </x:row>
          |    <x:row r="2"/>
          |    <x:row r="3">
          |      <x:c r="A3"><x:f>SUM(A1:A2)</x:f><x:v>3</x:v></x:c>
          |      <x:c r="B3" t="str"><x:v><![CDATA[a<b]]> &amp; &#x1D4B3;</x:v></x:c>
          |      <x:c r="D3" t="b"><x:v> 1</x:v></x:c><x:c r="E3" t="n"/>
          |      <x:c r="F3" t="inlineStr"><x:is><x:t>
          |  spaced  </x:t></x:is></x:c><x:c r="G3" t="s"><x:v>4</x:v></x:c>
          |    </x:row>
          |  </x:sheetData>
          |</x:worksheet>""".stripMargin))
    val got = Xlsx.readRows(wb, "sales").map(_.toSeq)
    assert(got == domRows(wb, "xl/worksheets/sheet1.xml"))
    // runs, phonetic runs and the whitespace between them, as getTextContent gave
    assert(got(0) == Seq("id", "EM\n     E Aエメア\n    ", "rich ") && got(1).isEmpty)
    assert(got(2) == Seq("3", "a<b & \uD835\uDCB3", null, "true", null, "\n  spaced  ", "AP&AC"))
    // the default workbook agrees with the oracle too
    val plain = Files.createTempDirectory("xlsx4").toString + "/book.xlsx"
    writeWorkbook(plain)
    for ((sheet, part) <- Seq("sales" -> "sheet1", "refunds" -> "sheet2"))
      assert(Xlsx.readRows(plain, sheet).map(_.toSeq) == domRows(plain, s"xl/worksheets/$part.xml"))
  }

  test("a DOCTYPE with an external entity fails the sheet and shared-strings parts, unresolved") {
    val dir = Files.createTempDirectory("xlsx_xxe")
    val secret = dir.resolve("secret.txt")
    Files.write(secret, "TOP-SECRET-CONTENT".getBytes("UTF-8"))
    val doctype = s"""<!DOCTYPE x [<!ENTITY xxe SYSTEM "${secret.toUri}">]>"""
    val sheet = doctype +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>&xxe;</t></is></c></row></sheetData></worksheet>""".stripMargin
    val shared = doctype +
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>&xxe;</t></si></sst>"""
    val workbook = doctype +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="sales" sheetId="1" r:id="rId1"/></sheets><x>&xxe;</x></workbook>""".stripMargin
    val rels = doctype +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="w" Target="worksheets/sheet1.xml"/><x>&xxe;</x></Relationships>""".stripMargin
    // every part the reader opens, the workbook and its rels part included
    val parts = Seq("xl/worksheets/sheet1.xml" -> sheet, "xl/sharedStrings.xml" -> shared,
      "xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> rels)
    for ((part, body) <- parts) {
      val wb = dir.resolve(s"book${part.length}.xlsx").toString
      writeWorkbook(wb, Map(part -> body))
      val reads = Seq[() => Any](() => Xlsx.readRows(wb, "sales")) ++
        (if (part == "xl/workbook.xml") Seq(() => Xlsx.listSheets(wb)) else Nil)
      for (read <- reads) {
        val e = intercept[javax.xml.stream.XMLStreamException](read())
        assert(e.getMessage.contains("DOCTYPE") && e.getMessage.contains(part), e.getMessage)
        assert(!e.getMessage.contains("TOP-SECRET"))
      }
    }
  }
}
