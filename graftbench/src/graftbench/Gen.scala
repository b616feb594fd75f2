package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded input generators. Every input is a pure function of the seed
  * (table rows of (seed, row index); graphs and documents of a Random seeded
  * from it), so the same seed gives the same inputs and the benchmark can
  * recompute, in plain Scala, what each graft call has to return. */
object Gen {

  /** splitmix64 finaliser over (seed, stream, index): one well-mixed
    * 64-bit value per generated field. */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def pick(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, stream, i), n.toLong).toInt

  def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  // ---------------------------------------------------------------- workbook

  val Regions: IndexedSeq[String] = IndexedSeq("Central", "East", "North", "South", "West")
  val Statuses: IndexedSeq[String] = IndexedSeq("closed", "open", "shipped")

  final case class SheetOrder(id: Long, customer: String, region: String, cents: Long,
      date: String, status: String)

  def sheetOrder(seed: Long, id: Long): SheetOrder = SheetOrder(
    id,
    f"C${pick(seed, 1, id, 4000)}%05d",
    Regions(pick(seed, 2, id, Regions.size)),
    100L + pick(seed, 3, id, 99900),
    java.time.LocalDate.of(2024, 1, 1).plusDays(pick(seed, 4, id, 365)).toString,
    Statuses(pick(seed, 5, id, Statuses.size)))

  /** A generated workbook: an `orders` sheet, a `fixes` sheet (order_id,
    * amount, status — every fix changes the amount) and a small `regions`
    * lookup sheet. */
  final case class Book(file: File, orders: IndexedSeq[SheetOrder], fixes: IndexedSeq[(Long, Long)]) {
    lazy val totalCents: Long = orders.map(_.cents).sum
    lazy val regionCents: Map[String, Long] =
      orders.groupMapReduce(_.region)(_.cents)(_ + _)
    lazy val fixDeltaCents: Long = {
      val byId = orders.map(o => o.id -> o.cents).toMap
      fixes.map { case (id, c) => c - byId(id) }.sum
    }
  }

  def workbook(seed: Long, rows: Int, nFixes: Int, file: File): Book = {
    val orders = (1 to rows).map(i => sheetOrder(seed, i.toLong))
    val fixIds = new scala.util.Random(seed ^ 0x5EEDL).shuffle((1 to rows).toVector).take(nFixes).sorted
    val fixes = fixIds.map(id => id.toLong -> (orders(id - 1).cents + 1 + pick(seed, 6, id, 5000)))
    Xlsx.write(file, Seq(
      Xlsx.Sheet("orders", Seq("order_id", "customer", "region", "amount", "order_date", "status"),
        orders.map(o => Seq(o.id, o.customer, o.region, Xlsx.Num(money(o.cents)), o.date, o.status))),
      Xlsx.Sheet("fixes", Seq("order_id", "amount", "status"),
        fixes.map { case (id, c) => Seq(id, Xlsx.Num(money(c)), "fixed") }),
      Xlsx.Sheet("regions", Seq("region", "manager"),
        Regions.map(r => Seq(r, s"mgr_${r.toLowerCase}")))))
    Book(file, orders, fixes)
  }

  // -------------------------------------------------------------------- lake

  val Priorities: IndexedSeq[String] = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val OrderStatuses: IndexedSeq[String] = IndexedSeq("F", "O", "P")

  /** orders row k: (o_orderkey, o_custkey, o_orderstatus, price cents,
    * order-date day offset, o_orderpriority). */
  def lakeOrder(seed: Long, k: Long): (Long, Long, String, Long, Int, String) =
    (k, 1L + pick(seed, 11, k, 15000), OrderStatuses(pick(seed, 12, k, 3)),
      1000L + pick(seed, 13, k, 50000000), pick(seed, 14, k, 2400),
      Priorities(pick(seed, 15, k, Priorities.size)))

  /** lineitem row i, four lines per order: (l_orderkey, l_linenumber,
    * l_partkey, l_quantity, extended-price cents, discount percent,
    * l_returnflag, ship-date day offset). */
  def lakeLine(seed: Long, i: Long): (Long, Int, Long, Int, Long, Int, String, Int) =
    (i / 4 + 1, (i % 4).toInt + 1, 1L + pick(seed, 21, i, 20000), 1 + pick(seed, 22, i, 50),
      100L + pick(seed, 23, i, 10000000), pick(seed, 24, i, 11),
      Flags(pick(seed, 25, i, Flags.size)), pick(seed, 26, i, 2500))

  /** The seeded perturbation of `orders`: keys deleted from and updated in
    * the second snapshot, keys appended to it, and the keys of the update
    * set `Merge.updateByKey` applies. Disjoint by construction. */
  final case class Perturbation(deleted: Set[Long], updated: Set[Long], inserted: Range.Inclusive,
      updateKeys: IndexedSeq[Long])

  def perturbation(seed: Long, nOrders: Int, nDel: Int, nUpd: Int, nIns: Int, nUpdates: Int): Perturbation = {
    val keys = new scala.util.Random(seed ^ 0xD1FFL).shuffle((1 to nOrders).map(_.toLong))
    Perturbation(keys.take(nDel).toSet, keys.slice(nDel, nDel + nUpd).toSet,
      (nOrders + 1) to (nOrders + nIns), keys.slice(nDel + nUpd, nDel + nUpd + nUpdates).sorted)
  }

  def updatedCents(seed: Long, k: Long, old: Long): Long = old + 1 + pick(seed, 31, k, 90000)

  // ------------------------------------------------------------------ graphs

  /** Undirected graph of many small components (2 to `maxSize` nodes: a
    * random tree plus a few chords), sized to `nEdges` distinct canonical edges.
    * The emitted rows also carry flipped and repeated edges, which
    * connectedComponents has to canonicalise away. */
  final case class Components(rows: IndexedSeq[(Long, Long)], distinctEdges: Int, labels: Map[Long, Long])

  def components(seed: Long, stream: Long, nEdges: Int, maxSize: Int): Components = {
    val rnd = new scala.util.Random(mix(seed, stream, 0))
    val canon = mutable.LinkedHashSet.empty[(Long, Long)]
    val rows = mutable.ArrayBuffer.empty[(Long, Long)]
    val used = mutable.HashSet.empty[Long]
    def fresh(): Long = {
      var id = 1L + rnd.nextInt(Int.MaxValue)
      while (!used.add(id)) id = 1L + rnd.nextInt(Int.MaxValue)
      id
    }
    def add(a: Long, b: Long): Unit = if (a != b && canon.size < nEdges) {
      if (canon.add((a min b, a max b))) {
        rows += (if (rnd.nextInt(4) == 0) (b, a) else (a, b))
        if (rnd.nextInt(20) == 0) rows += ((a, b))
      }
    }
    while (canon.size < nEdges) {
      val ids = IndexedSeq.fill(2 + rnd.nextInt(maxSize - 1))(fresh())
      for (j <- 1 until ids.size) add(ids(j), ids(rnd.nextInt(j)))
      for (_ <- 0 until rnd.nextInt(3)) add(ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
    }
    Components(rows.toIndexedSeq, canon.size, unionFind(canon))
  }

  /** Min-rooted union-find: node → smallest id of its component. */
  def unionFind(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Directed, skewed edge list for PageRank (duplicates and self-loops
    * allowed: both carry meaning in graft's PageRank). */
  def directed(seed: Long, nNodes: Int, nEdges: Int): IndexedSeq[(Long, Long)] =
    (0 until nEdges).map { i =>
      val src = pick(seed, 41, i, nNodes).toLong
      val dst = pick(seed, 42, i, 1 + pick(seed, 43, i, nNodes)).toLong
      (src, dst)
    }

  /** graft's PageRank recurrence in plain Scala: integer micro-units,
    * damping 85/100, truncating division, no dangling redistribution. */
  def pageRank(edges: IndexedSeq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val s = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v) => s(v) += r(u) / outdeg(u) }
      r = nodes.map(v => v -> (150000L + 85L * s(v) / 100)).toMap
    }
    r
  }

  private val Words: IndexedSeq[String] = IndexedSeq(
    "spark", "table", "query", "join", "scan", "sort", "hash", "group", "window", "stream",
    "batch", "value", "key", "row", "column", "part", "order", "line", "customer", "vector",
    "filter", "agg", "merge", "data", "fast", "slow", "big", "small", "index", "shuffle",
    "stage", "task", "job", "plan", "cache", "lake", "sheet", "report", "import", "update",
    "schema", "field", "record", "commit", "page", "rank", "graph", "edge", "node", "label",
    "token", "shingle", "bucket", "band", "pair", "score", "match", "dedup", "text", "word")

  /** Documents with injected near-duplicates (a copy of an earlier
    * document with one or two words replaced) and exact duplicates. */
  def documents(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(mix(seed, 51, 0))
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    for (id <- 0 until n) {
      val text =
        if (id > 10 && rnd.nextInt(100) < 4) docs(rnd.nextInt(id))._2
        else if (id > 10 && rnd.nextInt(100) < 15) {
          val w = docs(rnd.nextInt(id))._2.split(' ')
          for (_ <- 0 to rnd.nextInt(2)) w(rnd.nextInt(w.length)) = Words(rnd.nextInt(Words.size))
          w.mkString(" ")
        } else Seq.fill(20 + rnd.nextInt(60))(Words(rnd.nextInt(Words.size))).mkString(" ")
      docs += (id.toLong -> text)
    }
    docs.toIndexedSeq
  }
}

/** Minimal OOXML writer: one shared-string table, numeric cells for
  * numbers, every cell addressed ("B7") the way real writers emit them. */
object Xlsx {
  final case class Num(text: String)
  final case class Sheet(name: String, header: Seq[String], rows: Seq[Seq[Any]])

  def write(file: File, sheets: Seq[Sheet]): Unit = {
    val shared = mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int = shared.getOrElseUpdate(s, shared.size)
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def colName(i: Int): String = if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + colName(i % 26)
    val sheetXml = sheets.map { sh =>
      val sb = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      (sh.header +: sh.rows).zipWithIndex.foreach { case (cells, r) =>
        sb.append(s"""<row r="${r + 1}">""")
        cells.zipWithIndex.foreach { case (v, c) =>
          val ref = s"${colName(c)}${r + 1}"
          v match {
            case Num(t) => sb.append(s"""<c r="$ref"><v>$t</v></c>""")
            case n: Long => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
            case n: Int => sb.append(s"""<c r="$ref"><v>$n</v></c>""")
            case s => sb.append(s"""<c r="$ref" t="s"><v>${sid(s.toString)}</v></c>""")
          }
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>").toString
    }
    val ns = "http://schemas.openxmlformats.org"
    val parts = Seq(
      "[Content_Types].xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="$ns/package/2006/content-types">""" +
          s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          s"""<Default Extension="xml" ContentType="application/xml"/>""" +
          s"""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          sheets.indices.map(i => s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          s"""<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
          s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case (s, i) => s"""<sheet name="${esc(s.name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString +
          "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
          sheets.indices.map(i => s"""<Relationship Id="rId${i + 1}" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
          "</Relationships>")
    ) ++ sheetXml.zipWithIndex.map { case (x, i) => s"xl/worksheets/sheet${i + 1}.xml" -> x } :+
      ("xl/sharedStrings.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$ns/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""" +
          shared.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString + "</sst>"))
    val zip = new ZipOutputStream(new FileOutputStream(file))
    try parts.foreach { case (name, xml) =>
      val e = new ZipEntry(name)
      e.setTime(0L) // byte-identical files for one seed
      zip.putNextEntry(e)
      zip.write(xml.getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }
}
