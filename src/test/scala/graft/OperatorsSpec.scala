package graft

import org.apache.spark.sql.functions._
import graft.ops.{Merge, Reports}
import graft.sources.{ColumnSpec, MappedImport, Tables}
import graft.catalog.Catalog

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("updateByKey overwrites matched rows, passes through the rest") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val updates = Seq((2L, 99.0)).toDF("k", "v")
    val out = Merge.updateByKey(target, updates, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b", 99.0), (3L, "c", 30.0)))
  }

  test("upsert updates matches and appends new keys") {
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val updates = Seq((2L, 99.0), (5L, 50.0)).toDF("k", "v")
    val out = Merge.upsert(target, updates, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((1L, 10.0), (2L, 99.0), (5L, 50.0)))
  }

  test("scd2FromChangelog collapses no-op repeats and closes versions in order") {
    // user 1: a, a (no-op), b, a  -> three versions; user 2: x only
    val log = Seq(
      (1L, "a", 10L, 100L), (1L, "a", 20L, 101L), (1L, "b", 30L, 102L),
      (1L, "a", 40L, 103L), (2L, "x", 15L, 104L))
      .toDF("k", "attr", "t", "id")
      .withColumn("t", timestamp_seconds($"t"))
    val out = Merge.scd2FromChangelog(log, "k", "attr", "t", "id")
      .select($"k", $"attr", unix_timestamp($"valid_from").as("from"),
        unix_timestamp($"valid_to").as("to"), $"is_current")
      .orderBy($"k", $"from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "a", 10L, 30L, false),   // repeat at t=20 collapsed
      (1L, "b", 30L, 40L, false),
      (1L, "a", 40L, -1L, true),    // re-opened attr is a NEW version
      (2L, "x", 15L, -1L, true)))
  }

  test("scd2FromChangelog breaks timestamp ties by the tie-break id") {
    val log = Seq((1L, "a", 10L, 2L), (1L, "b", 10L, 1L))
      .toDF("k", "attr", "t", "id")
      .withColumn("t", timestamp_seconds($"t"))
    val out = Merge.scd2FromChangelog(log, "k", "attr", "t", "id")
      .select($"attr", $"is_current").orderBy($"is_current").collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    assert(out.toSeq == Seq(("b", false), ("a", true)))
  }

  test("scd2FromChangelog keeps a key whose attribute history starts NULL") {
    // k=1 opens with NULL attr (lag NULL <=> NULL must NOT swallow it),
    // k=2 is NULL for its whole history — one open NULL version
    val log = Seq(
      (1L, None, 10L, 100L), (1L, Some("a"), 20L, 101L),
      (2L, None, 15L, 102L), (2L, None, 25L, 103L))
      .toDF("k", "attr", "t", "id")
      .withColumn("t", timestamp_seconds($"t"))
    val out = Merge.scd2FromChangelog(log, "k", "attr", "t", "id")
      .select($"k", $"attr", unix_timestamp($"valid_from").as("from"), $"is_current")
      .orderBy($"k", $"from").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, null, 10L, false),  // the leading-NULL version opens
      (1L, "a", 20L, true),
      (2L, null, 15L, true)))  // all-NULL key: one collapsed open version
  }

  test("deleteWhere treats null predicate as keep") {
    val df = Seq[(Long, Option[String])]((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("k", "s")
    val out = Merge.deleteWhere(df, $"s" === "x").select("k").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L, 3L))
  }

  test("MappedImport prunes, renames, casts and nullifies blanks") {
    val df = Seq(("1", " x ", "7.5", "drop"), ("2", "", "8.5", "drop"))
      .toDF("id", "name", "amt", "junk")
    val out = MappedImport(df, Seq(
      ColumnSpec("id", "id2", castTo = Some("bigint")),
      ColumnSpec("name", "name"),
      ColumnSpec("amt", "amount", castTo = Some("double"))))
    assert(out.columns.toSeq == Seq("id2", "name", "amount"))
    val rows = out.orderBy("id2").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "x")
    assert(rows(1).isNullAt(1)) // blank → null
    assert(rows(0).getDouble(2) == 7.5)
  }

  test("Catalog lists databases, tables and finds key candidates") {
    assert(Catalog.listDatabases(spark, "/root/testdata").contains("sf0.001"))
    val tables = Catalog.listTables(spark, sfDir)
    assert(tables.contains("lineitem") && tables.contains("orders"))
    val design = Catalog.tableDesign(spark, Tables.load(spark, sfDir, "orders"))
    assert(design.count() == 6)
    val pks = Catalog.primaryKeyCandidates(Tables.load(spark, sfDir, "orders"))
    assert(pks.contains("o_orderkey") && !pks.contains("o_orderstatus"))
  }

  test("Catalog.analyzeTable profiles nulls, distincts and min/max in one pass") {
    val df = Seq((1L, Some("a"), 1.5), (2L, None, -2.5), (3L, Some("a"), 0.0))
      .toDF("id", "s", "v")
    val prof = Catalog.analyzeTable(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof("id").getLong(2) == 3 && prof("id").getLong(3) == 0)
    assert(prof("id").getLong(4) == 3)            // exact at this cardinality
    assert(prof("s").getLong(3) == 1)             // one null
    assert(prof("s").getString(5) == "a" && prof("s").getString(6) == "a")
    assert(prof("v").getString(5) == "-2.5" && prof("v").getString(6) == "1.5")
    // complex column: null-count only, stats columns null
    val arr = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    val p2 = Catalog.analyzeTable(arr).collect().map(r => r.getString(0) -> r).toMap
    assert(p2("xs").isNullAt(4) && p2("xs").isNullAt(5))
    // a column literally named "a.b" must profile, not resolve as struct access
    val dotted = Seq((1L, "x"), (2L, "y")).toDF("id", "a.b")
    val p3 = Catalog.analyzeTable(dotted).collect().map(r => r.getString(0) -> r).toMap
    assert(p3("a.b").getLong(2) == 2 && p3("a.b").getLong(4) == 2)
  }

  test("Reports groupSum/valueCounts aggregate correctly") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("x", "y")
    val gs = Reports.groupSum(df, "x", "y").collect()
    assert(gs.map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("a", 3.0), ("b", 5.0)))
    val vc = Reports.valueCounts(df, "x").collect()
    assert(vc.head.getString(0) == "a" && vc.head.getLong(1) == 2L)
  }

  test("exportReport writes chart data CSV, full result JSON, rendered SVG + manifest") {
    val out = java.nio.file.Files.createTempDirectory("report").toString
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("x", "y")
    Reports.exportReport(Reports.groupSum(df, "x", "y"), df, out,
      chartType = "bar", title = "acct <&> by seg")
    val chart = spark.read.option("header", "true").csv(s"$out/chart_data")
    assert(chart.columns.toSeq == Seq("x", "sum_y") && chart.count() == 2)
    assert(spark.read.json(s"$out/result").count() == 3)
    def parseXml(s: String): Unit =
      javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
    val svg = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/chart.svg")), "UTF-8")
    assert(svg.startsWith("<svg") && svg.contains("<rect") && svg.endsWith("</svg>\n"))
    parseXml(svg) // well-formed, label-escaping included
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")
    assert(manifest.contains("\"chart\": \"chart.svg\"")
      && manifest.contains("\"chart_rows\": 2"))
    // every chart type renders well-formed SVG, incl. single-slice pie
    val data = Seq(("a", 1.0), ("b", 2.0), ("c", 0.5))
    Seq("bar", "line", "pie").foreach(t =>
      parseXml(graft.ops.ChartSvg.render(t, data, s"$t chart")))
    parseXml(graft.ops.ChartSvg.pie(Seq(("only", 3.0)), "one slice"))
    // the PNG export is a REAL raster: decodes with the canvas geometry
    assert(manifest.contains("\"chart_png\": \"chart.png\""))
    val pngBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/chart.png"))
    val png = graft.multimodal.ImageCodec.decode(pngBytes)
    assert(png.isDefined && png.get.getWidth == 640 && png.get.getHeight == 400)
    // non-blank (bars actually painted): more than one distinct color
    val colors = (for (x <- 0 until 640 by 16; y <- 0 until 400 by 16)
      yield png.get.getRGB(x, y)).toSet
    assert(colors.size > 1)
    // every chart type rasterizes to a decodable 640x400 PNG
    Seq("bar", "line", "pie").foreach { t =>
      val img = graft.multimodal.ImageCodec.decode(
        graft.ops.ChartRaster.render(t, data, s"$t chart"))
      assert(img.isDefined && img.get.getWidth == 640 && img.get.getHeight == 400, t)
    }
    // the PDF export is structurally valid: header, one page, an embedded
    // DCTDecode image whose JPEG payload decodes at the canvas geometry
    val pdfBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/chart.pdf"))
    val pdf = new String(pdfBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(pdf.startsWith("%PDF-1.4") && pdf.endsWith("%%EOF\n"))
    assert(pdf.contains("/Type /Page ") && pdf.contains("/Filter /DCTDecode")
      && pdf.contains("/MediaBox [0 0 640 400]") && pdf.contains("startxref"))
    val jpegStart = pdf.indexOf("stream\n", pdf.indexOf("/DCTDecode")) + "stream\n".length
    val jpegEnd = pdf.indexOf("\nendstream", jpegStart)
    val jpeg = graft.multimodal.ImageCodec.decode(
      pdfBytes.slice(jpegStart, jpegEnd))
    assert(jpeg.isDefined && jpeg.get.getWidth == 640 && jpeg.get.getHeight == 400)
    // xref offsets must point at the object headers ("N 0 obj")
    val xref = pdf.substring(pdf.indexOf("xref\n"))
    val offs = xref.split("\n").drop(2).takeWhile(_.endsWith("n "))
      .map(_.split(" ")(0).toInt)
    offs.zipWithIndex.foreach { case (o, i) =>
      assert(pdf.startsWith(s"${i + 1} 0 obj", o), s"xref entry ${i + 1} -> $o")
    }
  }

  test("registerAll skips missing tables but surfaces corrupt ones") {
    val dir = java.nio.file.Files.createTempDirectory("regall").toString
    // empty dir: every table absent -> all skipped, no throw
    Tables.registerAll(spark, dir)
    // one corrupt dataset: must PROPAGATE (a typo'd/corrupt dir failing
    // silently is the confusing-"table not found"-later bug)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/customer.parquet"),
      "this is not parquet".getBytes("UTF-8"))
    intercept[Exception] { Tables.registerAll(spark, dir) }
  }

  test("IncrementalAgg.refresh equals full recompute; zero-count keys vanish; refreshes chain") {
    import graft.ops.IncrementalAgg
    import spark.implicits._
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 1.0)).toDF("k", "v")
    val mat = IncrementalAgg.groupSum(base, Seq("k"), "v")
    // delta: add to a, delete ALL of c, new key d
    val log1 = Seq(("a", 30.0, 1), ("c", 1.0, -1), ("d", 7.0, 1)).toDF("k", "v", "op")
    val r1 = IncrementalAgg.refresh(mat, log1, Seq("k"), "v")
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"cnt", $"sum_dec".cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(asMap(r1) == Map("a" -> ((3L, 60.0)), "b" -> ((1L, 5.0)), "d" -> ((1L, 7.0))))
    // equals the full recompute over the logically-final table
    val finalRows = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 5.0), ("d", 7.0)).toDF("k", "v")
    assert(asMap(r1) == asMap(IncrementalAgg.groupSum(finalRows, Seq("k"), "v")))
    // chains: a second refresh on the first one's output
    val log2 = Seq(("b", 5.0, -1), ("d", 3.0, 1)).toDF("k", "v", "op")
    val r2 = IncrementalAgg.refresh(r1, log2, Seq("k"), "v")
    assert(asMap(r2) == Map("a" -> ((3L, 60.0)), "d" -> ((2L, 10.0))))
  }

  test("IncrementalAgg: randomized chained changelogs equal full recompute (seeded)") {
    import graft.ops.IncrementalAgg
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val keys = Seq("a", "b", "c", "d")
    var live = (1 to 60).map(i =>
      (keys(rnd.nextInt(4)), math.round(rnd.nextDouble() * 1e4) / 100.0)).toVector
    var mat = IncrementalAgg.groupSum(live.toDF("k", "v"), Seq("k"), "v")
    // three chained refreshes of mixed inserts + deletes of live rows
    (1 to 3).foreach { _ =>
      val inserts = (1 to 15).map(_ =>
        (keys(rnd.nextInt(4)), math.round(rnd.nextDouble() * 1e4) / 100.0, 1))
      val (deleted, remaining) = rnd.shuffle(live).splitAt(10)
      live = remaining ++ inserts.map(r => (r._1, r._2))
      val log = (inserts ++ deleted.map(r => (r._1, r._2, -1))).toDF("k", "v", "op")
      mat = IncrementalAgg.refresh(mat, log, Seq("k"), "v")
      val expect = IncrementalAgg.groupSum(live.toDF("k", "v"), Seq("k"), "v")
      def m(df: org.apache.spark.sql.DataFrame) = df
        .select($"k", $"cnt", $"sum_dec".cast("string"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(m(mat) == m(expect), "incremental state diverged from full recompute")
    }
  }

  test("SavedQueries persists and runs by name") {
    val f = java.nio.file.Files.createTempFile("sq", ".json").toString
    val sq = new graft.queries.SavedQueries(f)
    Tables.registerAll(spark, sfDir)
    sq.save("cnt", "SELECT COUNT(*) AS n FROM orders")
    val reloaded = new graft.queries.SavedQueries(f)
    assert(reloaded.list == Seq("cnt"))
    assert(reloaded.run(spark, "cnt").head().getLong(0) == 1500L)
  }

  test("HeavyHitters: MG candidates are a guaranteed superset; exactTopK equals brute groupBy") {
    import spark.implicits._
    import graft.ops.HeavyHitters
    val rnd = new scala.util.Random(41)
    // Zipf-ish hot keys over a wide uniform tail — the operator's home
    // turf — spread across partitions so per-partition summaries must
    // merge to see the global picture
    val hot = (0 until 30).flatMap(i => Seq.fill(300 - 9 * i)(s"hot_$i"))
    val tail = Seq.fill(8000)(s"t_${rnd.nextInt(3000)}")
    val keys = rnd.shuffle(hot ++ tail)
    val df = keys.toDF("k").repartition(7)
    val n = keys.size
    val capacity = 64

    // superset guarantee: every key with true count > n/(capacity+1)
    // appears among the candidates (Misra–Gries bound, merged summaries)
    val cands = HeavyHitters.candidates(df.select($"k").as[String], capacity)
      .collect().map(_.getString(0)).toSet
    val truth = keys.groupBy(identity).view.mapValues(_.size).toMap
    val mustKeep = truth.filter(_._2 > n.toDouble / (capacity + 1)).keySet
    assert(mustKeep.nonEmpty && mustKeep.subsetOf(cands),
      s"missing guaranteed keys: ${mustKeep -- cands}")

    // exact recount equals the brute groupBy answer, order and counts
    val got = HeavyHitters.exactTopK(df, "k", m = 10, capacity = capacity)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = truth.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
      .map { case (k, c) => (k, c.toLong) }
    assert(got == expect, s"got=$got expect=$expect")

    // the certificate is honest: a capacity far too small for the
    // distribution must throw, not truncate silently
    val uniform = (0 until 4000).map(i => s"u_$i").toDF("k")
    intercept[IllegalArgumentException] {
      HeavyHitters.exactTopK(uniform, "k", m = 5, capacity = 8)
    }
  }

  test("PageRank: integer recurrence matches a driver-side reference; lineage-truncated long runs") {
    import spark.implicits._
    // random directed graph incl. a dangling node (no out-edges) and a
    // self-loop — the damped-sink semantics must match the reference
    val rnd = new scala.util.Random(7)
    val n = 40
    val edgeList = (Seq.tabulate(150)(_ =>
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")) :+ ("v5", "v5") :+
        ("v1", "vdangling")).distinct
    val edges = edgeList.toDF("src", "dst").repartition(5)

    // driver-side reference: the exact same all-integer recurrence
    def reference(iters: Int): Map[String, Long] = {
      val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nodes = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct
      var r = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val in = edgeList.groupBy(_._2).view.mapValues(
          _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
        r = nodes.map(v => v -> (150000L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }

    for (iters <- Seq(0, 3, 12)) { // 12 exercises the per-round truncation
      val got = graft.ops.PageRank.run(edges, iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == reference(iters), s"iters=$iters")
    }
  }

  test("Hits: integer max-normalized rounds match a driver-side reference") {
    import spark.implicits._
    // hand graph first (exact expectations): A→C, B→C, B→D — C out-
    // authorities D (two hubs vs one), B out-hubs A (links both auths)
    val hand = Seq(("A", "C"), ("B", "C"), ("B", "D")).toDF("src", "dst")
    val got1 = graft.ops.Hits.run(hand, nIters = 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got1("C") == (1000000L, 0L))
    assert(got1("D") == (500000L, 0L))
    assert(got1("B") == (0L, 1000000L)) // 1.5e6 raw, max-normalized
    assert(got1("A") == (0L, 666666L))  // 1e6 * 1e6 div 1.5e6, truncated
    // random directed graph vs the same all-integer recurrence run on
    // the driver
    val rnd = new scala.util.Random(11)
    val edgeList = Seq.tabulate(120)(_ =>
      (s"v${rnd.nextInt(30)}", s"v${rnd.nextInt(30)}")).distinct
    def reference(iters: Int): Map[String, (Long, Long)] = {
      val nodes = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct
      var h = nodes.map(_ -> 1000000L).toMap
      var a = Map.empty[String, Long]
      for (_ <- 1 to iters) {
        val ar = edgeList.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
        val am = ar.values.max
        a = nodes.map(v => v -> ar.getOrElse(v, 0L) * 1000000L / am).toMap
        val hr = edgeList.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
        val hm = hr.values.max
        h = nodes.map(v => v -> hr.getOrElse(v, 0L) * 1000000L / hm).toMap
      }
      nodes.map(v => v -> (a(v), h(v))).toMap
    }
    val got = graft.ops.Hits.run(edgeList.toDF("src", "dst").repartition(4), nIters = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == reference(3))
  }

  test("PageRank.runPersonalized: seed-restricted teleport matches a driver reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 30
    val edgeList = Seq.tabulate(120)(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
    val edges = edgeList.toDF("src", "dst").repartition(4)
    val seedSet = Set(0L, 3L, 7L)
    val seeds = seedSet.toSeq.toDF("node")

    def reference(iters: Int): Map[Long, Long] = {
      val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nodes = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct
      var r = nodes.map(v => v -> (if (seedSet(v)) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = edgeList.groupBy(_._2).view.mapValues(
          _.map { case (s0, _) => r(s0) / outdeg(s0) }.sum).toMap
        r = nodes.map(v => v ->
          ((if (seedSet(v)) 150000L else 0L) + 85L * in.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    for (iters <- Seq(0, 3)) {
      val got = graft.ops.PageRank.runPersonalized(edges, seeds, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(iters), s"iters=$iters")
    }
    // a seed absent from the graph contributes nothing and doesn't appear
    val withGhost = graft.ops.PageRank
      .runPersonalized(edges, (seedSet + 999L).toSeq.toDF("node"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!withGhost.contains(999L))
    assert(withGhost == reference(2))
  }

  test("PageRank.runToFixpoint: early stop at the integer fixpoint, ranks identical") {
    import spark.implicits._
    // directed ring: outdeg 1 and indeg 1 everywhere, so round 1 maps
    // every rank 10⁶ -> 150000 + 850000 = 10⁶ — the exact fixpoint is
    // reached immediately and the L1 delta is 0
    val ring = (0 until 12).map(i => (i.toLong, ((i + 1) % 12).toLong))
      .toDF("src", "dst").repartition(3)
    val (ranks, rounds) = graft.ops.PageRank.runToFixpoint(ring, maxIters = 25)
    assert(rounds == 1) // stopped at the fixpoint, not at maxIters
    val got = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until 12).map(i => i.toLong -> 1000000L).toMap)
    // answer-invariance: same ranks as the fixed-iteration run
    val full = graft.ops.PageRank.run(ring, 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)

    // a non-regular graph does NOT stop in one round
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L)).toDF("src", "dst")
    val (_, r2) = graft.ops.PageRank.runToFixpoint(chain, maxIters = 50)
    assert(r2 > 1)
  }

  test("graph key-type mismatches fail loudly instead of nulling joins") {
    import spark.implicits._
    val edgesStr = Seq("a" -> "b").toDF("src", "dst")
    val seedsInt = Seq(1L).toDF("node")
    intercept[IllegalArgumentException] {
      graft.ops.Bfs.run(edgesStr, seedsInt, maxHops = 2)
    }
    val mixed = Seq(("a", 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { graft.ops.PageRank.run(mixed, 1) }
  }

  test("Boilerplate: shared passages dropped, unique kept, reconstruction hash-exact") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"nav$i").mkString(" ")   // one exact window
    val docs = Seq(
      (1L, s"$shared alpha beta gamma delta eps zeta eta theta"),
      (2L, s"$shared one two three four five six seven eight iota"),
      (3L, "totally unique body text that matches nothing else here ok"),
      (4L, shared),             // loses its only passage -> empty cleaned text
      (5L, "")                  // no tokens at all -> 0 segments
    ).toDF("doc_id", "text").repartition(3)

    val got = graft.dedup.Boilerplate
      .dropDuplicatedPassages(docs, "text", "doc_id", k = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1: 16 tokens = 2 windows, the shared first window dropped
    assert(got(1L) == ((2L, 1L, md5hex("alpha beta gamma delta eps zeta eta theta"))))
    // doc 2: 17 tokens = 3 windows (8+8+1), shared prefix dropped, the
    // 8-token middle AND the 1-token remainder kept in position order
    assert(got(2L) == ((3L, 2L, md5hex("one two three four five six seven eight iota"))))
    // doc 3: both windows unique (8 + 3 tokens), fully kept in order
    assert(got(3L) == ((2L, 2L,
      md5hex("totally unique body text that matches nothing else here ok"))))
    // doc 4: everything was boilerplate -> empty reconstruction
    assert(got(4L) == ((1L, 0L, md5hex(""))))
    // doc 5: empty text -> zero segments, not a crash or a phantom window
    assert(got(5L) == ((0L, 0L, md5hex(""))))
  }

  test("Bfs: exact min hop distances, each node expanded once, hop bound honored") {
    import spark.implicits._
    // a->b->c->d chain; shortcut a->c (so c is dist 1, not 2); cycle
    // d->a; isolated island x->y; z unreachable from the seeds
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "d", "a" -> "c", "d" -> "a",
      "x" -> "y", "y" -> "z")
      .toDF("src", "dst").repartition(3)
    val seeds = Seq("a", "x", "ghost").toDF("node") // ghost: seed not in graph

    val got = graft.ops.Bfs.run(edges, seeds, maxHops = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "x" -> 0L, "ghost" -> 0L,
      "b" -> 1L, "c" -> 1L, "y" -> 1L, "d" -> 2L, "z" -> 2L))

    // hop bound: radius-1 ball only; the cycle must not resurrect a at d>0
    val bounded = graft.ops.Bfs.run(edges, Seq("a").toDF("node"), maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bounded == Map("a" -> 0L, "b" -> 1L, "c" -> 1L))

    // maxHops = 0 is legal: just the seed set at distance 0
    val zero = graft.ops.Bfs.run(edges, seeds, maxHops = 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(zero == Map("a" -> 0L, "x" -> 0L, "ghost" -> 0L))
  }

  test("negativeSample: matches a driver md5 reference; never same-source") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val anchors = Seq((0L, "src0"), (1L, "src1"))
      .toDF("a_id", "a_source")
    val got = graft.ops.TrainingPrep.negativeSample(
      docs.repartition(5), "doc_id", "source", anchors, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // driver reference: same md5 draw, same composite score
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def score(a: Long, d: Long) =
      (java.lang.Long.parseLong(md5hex(s"neg:$a:$d").take(15), 16) % 1000000000L) * 65536L + d % 65536L
    val want = Seq((0L, "src0"), (1L, "src1")).flatMap { case (a, asrc) =>
      (0L until 40L).filter(d => s"src${d % 4}" != asrc)
        .sortBy(d => score(a, d)).take(3).zipWithIndex
        .map { case (d, i) => (a, i + 1, d) }
    }
    assert(got.sortBy(t => (t._1, t._2)).toSeq == want)
    // exclusion holds: no negative shares its anchor's source
    got.foreach { case (a, _, d) => assert(d % 4 != a % 4) }
  }

  test("IncrementalJoin: chained refreshes equal full recompute; update = del+ins") {
    import spark.implicits._
    val dim = Seq(("a", "Alpha"), ("b", "Beta")).toDF("k", "name")
    def fact(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("id", "k", "v").repartition(2)
    def recompute(f: org.apache.spark.sql.DataFrame) =
      graft.ops.IncrementalJoin.materialize(f, dim, "k")
        .collect().map(_.toString).sorted.toSeq

    val f0 = fact((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
    val v0 = graft.ops.IncrementalJoin.materialize(f0, dim, "k")

    // delete 2, update 3 (retraction pair: del old + ins new), insert 4,
    // and a delete of an id that was never in the view (no-op)
    val log1 = Seq((2L, "b", 2.0, -1), (3L, "a", 3.0, -1), (3L, "b", 30.0, 1),
      (4L, "b", 4.0, 1), (99L, "a", 9.0, -1)).toDF("id", "k", "v", "op")
    val v1 = graft.ops.IncrementalJoin.refresh(v0, log1, dim, "k", "id")
    val f1 = fact((1L, "a", 1.0), (3L, "b", 30.0), (4L, "b", 4.0))
    assert(v1.collect().map(_.toString).sorted.toSeq == recompute(f1))

    // chain: v1 is a valid base for the next refresh
    val log2 = Seq((1L, "a", 1.0, -1), (5L, "a", 5.0, 1)).toDF("id", "k", "v", "op")
    val v2 = graft.ops.IncrementalJoin.refresh(v1, log2, dim, "k", "id")
    val f2 = fact((3L, "b", 30.0), (4L, "b", 4.0), (5L, "a", 5.0))
    assert(v2.collect().map(_.toString).sorted.toSeq == recompute(f2))

    // debug mode: duplicate factId in the insert half fails loudly
    val dupLog = Seq((7L, "a", 7.0, 1), (7L, "a", 7.5, 1)).toDF("id", "k", "v", "op")
    intercept[IllegalArgumentException] {
      graft.ops.IncrementalJoin.refresh(v2, dupLog, dim, "k", "id",
        assertUniqueInserts = true)
    }
  }

  test("IncrementalJoin.refreshDim: dim deltas touch view rows by join key; legs chain") {
    import spark.implicits._
    val fact0 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0))
      .toDF("id", "k", "v").repartition(2)
    def dimOf(rows: (String, String)*) = rows.toSeq.toDF("k", "name")
    val dim0 = dimOf("a" -> "Alpha", "b" -> "Beta", "c" -> "Gamma")
    def recompute(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      graft.ops.IncrementalJoin.materialize(f, d, "k")
        .collect().map(_.toString).sorted.toSeq
    val v0 = graft.ops.IncrementalJoin.materialize(fact0, dim0, "k")

    // dim update of 'a' (del+ins pair), dim delete of 'c' (all its fact
    // rows leave the view), delete of an absent key (no-op)
    val dlog = Seq(("a", "Alpha", -1), ("a", "ALPHA2", 1), ("c", "Gamma", -1),
      ("zz", "None", -1)).toDF("k", "name", "op")
    val v1 = graft.ops.IncrementalJoin.refreshDim(v0, dlog, fact0, "k")
    val dim1 = dimOf("a" -> "ALPHA2", "b" -> "Beta")
    assert(v1.collect().map(_.toString).sorted.toSeq == recompute(fact0, dim1))

    // the legs CHAIN: a fact-side refresh on the dim-refreshed view
    val flog = Seq((2L, "b", 2.0, -1), (5L, "b", 5.0, 1)).toDF("id", "k", "v", "op")
    val v2 = graft.ops.IncrementalJoin.refresh(v1, flog, dim1, "k", "id")
    val fact1 = Seq((1L, "a", 1.0), (3L, "a", 3.0), (4L, "c", 4.0), (5L, "b", 5.0))
      .toDF("id", "k", "v")
    assert(v2.collect().map(_.toString).sorted.toSeq == recompute(fact1, dim1))

    // ... and a second dim-side refresh on top of both (fact must be the
    // current fact side — fact1)
    val dlog2 = Seq(("b", "Beta", -1), ("b", "BETA3", 1)).toDF("k", "name", "op")
    val v3 = graft.ops.IncrementalJoin.refreshDim(v2, dlog2, fact1, "k")
    assert(v3.collect().map(_.toString).sorted.toSeq ==
      recompute(fact1, dimOf("a" -> "ALPHA2", "b" -> "BETA3")))
  }

  test("Image aHash: decoded pixels equal the arithmetic formula; twins pair up") {
    import spark.implicits._
    val ids = Seq(12L, 30L, 42L).toDF("doc_id") // %3==0: png (incl. alpha at 12/30/42? 12%6==0,30%6==0,42%6==0 -> alpha)
    val assets = graft.multimodal.Multimodal.synthImages(spark, ids)
      .unionByName(graft.multimodal.Multimodal.synthTwinImages(spark, nPairs = 2, base = 9000L))
    val got = graft.multimodal.Multimodal.aHashBands(spark, assets)
      .collect().map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap

    // arithmetic reference: the aHash the oracle predicts, from the
    // color formula alone — proves the REAL encode→decode roundtrip is
    // pixel-exact (channel order, alpha, headers all on the line)
    def refBands(baseId: Long, twin: Boolean): Seq[Int] = {
      val gray = (0 until 64).map { p =>
        val (x, y) = (p % 8, p / 8)
        var rgb = ((baseId * 1103515245L + x * 12345L + y * 2654435761L) & 0xFFFFFF).toInt
        if (twin && x == 0 && y == 0) rgb ^= 0x808080
        (((rgb >> 16) & 255) * 299 + ((rgb >> 8) & 255) * 587 + (rgb & 255) * 114) / 1000
      }
      val mean = gray.map(_.toLong).sum / 64
      val bands = Array.fill(4)(0)
      for (p <- 0 until 64 if gray(p) > mean) bands(p / 16) |= 1 << (p % 16)
      bands.toSeq
    }
    for (id <- Seq(12L, 30L, 42L)) assert(got(id) == refBands(id, twin = false), s"organic $id")
    assert(got(9000L) == refBands(9000L, twin = false))
    assert(got(9001L) == refBands(9000L, twin = true))
    assert(got(9002L) == refBands(9002L, twin = false))
    assert(got(9003L) == refBands(9002L, twin = true))

    // the twin pairs surface in the banded join with small hamming; the
    // unrelated organic images (random-ish hashes) do not pair with them
    val pairs = graft.multimodal.Multimodal.imageNearDupPairs(
      graft.multimodal.Multimodal.aHashBands(spark, assets), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val twinPairs = pairs.filter(p => p._1 >= 9000L && p._2 == p._1 + 1)
    assert(twinPairs.map(_._1).toSet.subsetOf(Set(9000L, 9002L)))
    twinPairs.foreach(p => assert(p._3 >= 1 && p._3 <= 3, s"twin hamming ${p._3}"))
  }

  test("PhraseIndex: overlapping occurrences, short docs, deterministic tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c"),      // "a b c" twice (overlapping window walk)
      (2L, "a b c"),            // once
      (3L, "z z z z"),          // "z z z" twice — same total as "a b c" (3)... no: 2
      (4L, "x y"),              // too short for a trigram
      (5L, ""))                 // empty
      .toDF("doc_id", "text").repartition(3)

    val pc = graft.text.PhraseIndex.phraseCounts(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pc((1L, "a b c")) == 2L)
    assert(pc((1L, "b c a")) == 1L)
    assert(pc((2L, "a b c")) == 1L)
    assert(pc((3L, "z z z")) == 2L)
    assert(!pc.keys.exists(_._1 == 4L) && !pc.keys.exists(_._1 == 5L))

    // totals: "a b c" = 3 beats "z z z" = 2 → top phrase, docs 1 and 2
    val top = graft.text.PhraseIndex.topPhraseDocs(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(top == Set(("a b c", 1L, 2L), ("a b c", 2L, 1L)))

    // exact tie on totals → lexicographically smaller phrase wins
    val tied = Seq((1L, "m n o"), (2L, "k l m")).toDF("doc_id", "text")
    val t2 = graft.text.PhraseIndex.topPhraseDocs(tied, "text", "doc_id", 3)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(t2 == Seq("k l m"))
  }

  test("Outliers.iqrByGroup: hand-computed fences, no-outlier group, NULLs dropped") {
    import spark.implicits._
    // group A: 1..11 plus 100 → n=12, 0-based q1 rank ⌊11·.25⌋=2 → value 3,
    // q3 rank ⌊11·.75⌋=8 → value 9, IQR 6, fences [-6, 18] → one outlier (100)
    // group B: five equal values → IQR 0, fences collapse to the value,
    // zero outliers, sum 0
    val a = (Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 100)).map(v => ("A", v.toDouble))
    val b = Seq.fill(5)(("B", 7.0))
    val rows = (a ++ b).zipWithIndex.map { case ((g, v), i) => (g, Option(v), i.toLong) } :+
      (("A", None: Option[Double], 99L)) // NULL value: dropped, not ranked
    val got = graft.ops.Outliers.iqrByGroup(
      rows.toDF("g", "v", "id").repartition(3), "g", "v", "id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got("A") == ((12L, 3.0, 9.0, 1L, 100.0)))
    assert(got("B") == ((5L, 7.0, 7.0, 0L, 0.0)))
  }

  test("Outliers: high-cardinality group keys run unbroadcast (shuffled join)") {
    import spark.implicits._
    // 20k groups × 3 values — the group-cardinality regime where a
    // forced quartile broadcast is the wrong plan; the unbroadcast path
    // must produce the identical per-group summary
    val rows = (0 until 20000).flatMap(g =>
      Seq((g, 1.0, g * 3L), (g, 2.0, g * 3L + 1), (g, 100.0 + g % 7, g * 3L + 2)))
      .toDF("g", "v", "id").repartition(16)
    val got = graft.ops.Outliers.iqrByGroup(rows, "g", "v", "id",
      broadcastQuartiles = false)
    assert(got.count() == 20000)
    val g0 = got.filter($"g" === 0).head
    // n=3: q1 = rank floor(2*.25)=0 -> 1.0, q3 = rank floor(2*.75)=1 -> 2.0,
    // IQR=1, fences [-0.5, 3.5] -> the 100.0 value is the one outlier
    assert((g0.getLong(1), g0.getDouble(2), g0.getDouble(3), g0.getLong(4)) ==
      ((3L, 1.0, 2.0, 1L)))
  }

  test("KMeansInt: matches a driver-side reference; empty cluster keeps centroid") {
    import spark.implicits._
    // two tight groups + one point equidistant between seeds (tie must
    // break to the smaller cluster index)
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.1f, -0.1f)), (3L, Array(9.9f, 10.1f)),
      (4L, Array(0.2f, 0.0f)), (5L, Array(10.2f, 9.8f)),
      (6L, Array(5.0f, 5.0f))) // exactly between the two seeds
      .toDF("id", "v").repartition(3)

    val (assigned, cs) = graft.similarity.KMeansInt.fit(pts, "id", "v", k = 2, iters = 3)
    val got = assigned.select("id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    // driver-side reference: same integer recurrence
    var ref = Array(Array(0L, 0L), Array(10000L, 10000L))
    val q = Map(0L -> Array(0L, 0L), 1L -> Array(10000L, 10000L),
      2L -> Array(100L, -100L), 3L -> Array(9900L, 10100L),
      4L -> Array(200L, 0L), 5L -> Array(10200L, 9800L), 6L -> Array(5000L, 5000L))
    var refAssign = Map.empty[Long, Int]
    for (_ <- 1 to 3) {
      refAssign = q.map { case (id, p) =>
        val d = ref.map(c => c.zip(p).map { case (a, b) => (b - a) * (b - a) }.sum)
        id -> d.indexOf(d.min) // indexOf = first minimum = smaller index on tie
      }
      ref = ref.zipWithIndex.map { case (old, j) =>
        val members = q.filter { case (id, _) => refAssign(id) == j }.values
        if (members.isEmpty) old
        else old.indices.map(i => members.map(_(i)).sum / members.size).toArray
      }
    }
    assert(got == refAssign)
    assert(cs.map(_.toSeq).toSeq == ref.map(_.toSeq).toSeq)
    assert(got(6L) == 0) // the tie broke to cluster 0

    // empty cluster: seed 1 sits so far out it attracts nothing — its
    // centroid must survive unchanged (keep-old), not NaN/vanish
    val far = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1000.0f, 1000.0f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(1.0f, 0.0f)))
      .toDF("id", "v")
    // seeds are ids 0 and 1; all of 2,3 join cluster 0, then round 2's
    // update moves centroid 0 while centroid 1 keeps losing: it holds
    // its seed position throughout
    val (a2, cs2) = graft.similarity.KMeansInt.fit(far, "id", "v", k = 2, iters = 2)
    assert(cs2(1).toSeq == Seq(1000000L, 1000000L))
    assert(a2.filter($"cluster" === 1).count() == 1) // only the far point itself
  }

  test("KMeansInt: assignExpr tree size is O(1) in k; k=512 fit completes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the k×d table is ONE literal, so the expression TREE must not grow
    // with k — the property that keeps Catalyst analysis/codegen flat at
    // large k (the old fold-of-whens grew ~2^k)
    def treeSize(c: org.apache.spark.sql.Column): Int =
      org.apache.spark.sql.graft.bridge.expression(c).collect { case e => e }.size
    val small = Array.tabulate(2, 8)((j, p) => (j * 100 + p).toLong)
    val big = Array.tabulate(512, 8)((j, p) => (j * 1000 + p).toLong)
    assert(treeSize(graft.similarity.KMeansInt.assignExpr(col("q"), big)) ==
      treeSize(graft.similarity.KMeansInt.assignExpr(col("q"), small)))

    // a real fit at k=512 — parameter scale the fold form could not analyze
    val pts = (0 until 1024)
      .map(i => (i.toLong, Array.tabulate(4)(p => ((i * 37) % 997).toFloat + p)))
      .toDF("id", "v").repartition(8)
    val (assigned, cents) =
      graft.similarity.KMeansInt.fit(pts, "id", "v", k = 512, iters = 1)
    assert(cents.length == 512)
    assert(assigned.count() == 1024)
    assert(assigned.agg(org.apache.spark.sql.functions.countDistinct($"cluster"))
      .head.getLong(0) > 256) // most seed cells attract their own seed
  }

  test("SemDedup: paraphrases and exact copies drop, in-cluster distinct stays") {
    import spark.implicits._
    // two clusters (seeds 0 and 1). In-cluster semantics: 0↔2 distinct
    // directions (cos ≈ 0.835 < 0.95 — both kept), 1↔3 near-identical
    // direction (cos ≈ 1 — 3 dominated), 4 = scaled paraphrase of 0
    // (dominated), 5 = byte-identical copy of 0 (exact-collapse drop).
    val vecs = Seq(
      (0L, Array(100.0f, 30.0f)), (1L, Array(-100.0f, 0.0f)),
      (2L, Array(100.0f, -30.0f)), (3L, Array(-100.0f, 1.0f)),
      (4L, Array(100.0f * 1.015625f, 30.0f * 1.015625f)),
      (5L, Array(100.0f, 30.0f)))
      .toDF("id", "v").repartition(3)
    val got = graft.dedup.SemDedup.semanticDedup(vecs, "id", "v",
      k = 2, iters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(got.view.mapValues(_._2).toMap ==
      Map(0L -> true, 1L -> true, 2L -> true, 3L -> false, 4L -> false, 5L -> false))
    // cluster sanity: the positive-x family shares a cluster, as does the
    // negative-x family, and they differ
    assert(Set(0L, 2L, 4L, 5L).map(got(_)._1).size == 1)
    assert(Set(1L, 3L).map(got(_)._1).size == 1)
    assert(got(0L)._1 != got(1L)._1)
  }

  test("HybridSearch.rrfFuse: overlap sums, single legs rank, cross-leg ties break on id") {
    import spark.implicits._
    // doc 100 in BOTH legs (lex rk2 + dense rk2 -> 2/62, the top);
    // 101 lex-only rk1 and 103 dense-only rk1 TIE at 1/61 -> id order;
    // 102 lex-only rk3 trails at 1/63.
    val lex = Seq((1L, 1, 101L), (1L, 2, 100L), (1L, 3, 102L))
      .toDF("q_id", "rk", "n_id")
    val dense = Seq((1L, 1, 103L), (1L, 2, 100L))
      .toDF("q_id", "rk", "n_id")
    val got = graft.similarity.HybridSearch.rrfFuse(lex, dense, c = 60, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 1, 100L, 1.0 / 62 + 1.0 / 62),
      (1L, 2, 101L, 1.0 / 61),
      (1L, 3, 103L, 1.0 / 61),
      (1L, 4, 102L, 1.0 / 63)), got.mkString(";"))
  }

  test("HybridSearch.jaccardTopK: heap ranking equals the sort order, self excluded") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),   // closest to 0
      (2L, "alpha beta gamma theta iota kappa"),    // medium
      (3L, "completely different words here now ok"),
      (4L, "alpha beta gamma delta epsilon zeta")   // identical to 0 (J = 1)
    ).toDF("doc_id", "text").repartition(3)
    val got = graft.similarity.HybridSearch.jaccardTopK(
      docs, "text", "doc_id", $"doc_id" === 0, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sorted
    // rank 1 = the identical doc 4, rank 2 = near-identical 1, rank 3 =
    // medium 2; the query itself never appears
    assert(got.toSeq == Seq((1, 4L), (2, 1L), (3, 2L)), got.mkString(";"))

    // the sanctioned nested loop is BOUNDED: a query batch past
    // maxQueries must raise in-plan, not silently run an all-pairs
    // corpus product
    val ex = intercept[Exception] {
      graft.similarity.HybridSearch.jaccardTopK(
        docs, "text", "doc_id", $"doc_id" < 3, k = 2, maxQueries = 2).collect()
    }
    assert(ex.getMessage.contains("maxQueries"), ex.getMessage)
    // at the bound it still answers
    assert(graft.similarity.HybridSearch.jaccardTopK(
      docs, "text", "doc_id", $"doc_id" < 3, k = 2, maxQueries = 3).count() > 0)
  }

  test("SemDedup keep policy: far_from_centroid changes the survivor, never the count") {
    import spark.implicits._
    // one cluster of three PARALLEL vectors (pairwise cosine exactly 1 —
    // a clean similarity clique) at distinct distances from the centroid
    // (mean ≈ 11666 milli-units): id 1 nearest is NOT the min id, id 3
    // farthest. min_id keeps the smallest id; far_from_centroid keeps
    // the farthest member (the paper's diversity-preserving choice).
    // Exactly ONE member survives under either order.
    val vecs = Seq(
      (1L, Array(10.0f, 0.0f)), (2L, Array(11.0f, 0.0f)), (3L, Array(14.0f, 0.0f)))
      .toDF("id", "v").repartition(2)
    def keptSet(keep: String) = graft.dedup.SemDedup
      .semanticDedup(vecs, "id", "v", k = 1, iters = 1, threshold = 0.9, keep = keep)
      .filter($"kept").select("id").as[Long].collect().toSet
    val minId = keptSet("min_id")
    val far = keptSet("far_from_centroid")
    assert(minId == Set(1L), s"min_id kept $minId")
    assert(far == Set(3L), s"far_from_centroid kept $far")
    assert(minId.size == far.size, "the policy must change WHO survives, not how many")
    intercept[IllegalArgumentException] {
      graft.dedup.SemDedup.semanticDedup(vecs, "id", "v", 1, 1, 0.9, keep = "bogus")
    }
  }

  test("Pooling.meanPool: integer mean with toward-zero truncation on negatives") {
    import spark.implicits._
    val chunks = Seq(
      ("a", Array(1.0f, -0.5f)), ("a", Array(2.0f, -0.6f)), ("a", Array(0.5f, 0.1f)),
      ("b", Array(4.0f, 4.0f)))
      .toDF("doc", "v").repartition(3)
    val got = graft.similarity.Pooling.meanPool(chunks, "doc", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    // pos0: 3500000 div 3 = 1166666; pos1: -1000000 div 3 = -333333
    // (toward zero — floor division would give -333334)
    assert(got("a") == ((3L, Seq(1166666L, -333333L))))
    assert(got("b") == ((1L, Seq(4000000L, 4000000L))))
  }

  test("Trend.linearTrend: exact line recovered; degenerate group yields NULLs") {
    import spark.implicits._
    // g1 lies exactly on y = 3x + 2; g2 has one point (den = 0)
    val pts = (0L to 10L).map(x => ("g1", x, 3 * x + 2)) :+ (("g2", 5L, 7L))
    val got = graft.ops.Trend.linearTrend(
      pts.toDF("g", "x", "y").repartition(3), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got("g1") == ((11L, Some(3.0), Some(2.0))))
    assert(got("g2") == ((1L, None, None)))
  }

  test("Trend.anomalyFlags: integer 2-sigma test flags the spike, spares the noise") {
    import spark.implicits._
    // steady ~10s with one 100 spike. NOTE the self-inclusion bound: a
    // lone outlier among w-1 near-constant points scores z ≈ √(w−1), so
    // the 2σ test needs window ≥ 6 to catch it — window 7 here (and in
    // q121), which is the honest reason the default window isn't tiny.
    val ys = Seq(10L, 11L, 9L, 10L, 10L, 11L, 100L, 10L, 9L)
    val series = ys.zipWithIndex.map { case (y, x) => ("a", x.toLong, y) }
      .toDF("g", "x", "y").repartition(2)
    val got = graft.ops.Trend.anomalyFlags(series, "g", "x", "y", window = 7)
      .collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    assert(got(6L), "the spike must flag")
    assert(!got(0L), "a single-point window has sigma 0 and never flags")
    assert(!got(1L) && !got(2L) && !got(3L), "steady prefix must not flag")
    // driver-side reference for EVERY point: the same integer inequality
    ys.indices.foreach { i =>
      val win = ys.slice(math.max(0, i - 6), i + 1)
      val (w, s, q) = (win.size.toLong, win.sum, win.map(v => v * v).sum)
      val want = (w * ys(i) - s) * (w * ys(i) - s) > 4 * (w * q - s * s)
      assert(got(i.toLong) == want, s"x=$i")
    }
  }

  test("Trend: moments past long range are exact (decimal), never wrapped") {
    import spark.implicits._
    // y = 9e17·x + 5 exactly: Σx·y = 9e17·385 + 5·55 ≈ 3.5e20 — far past
    // 2^63, where the old long moments silently wrapped to a plausible
    // wrong slope. Decimal(38,0) sums recover the line bit-exactly.
    val m = 900000000000000000L // 9e17, double-exact
    val pts = (0L to 10L).map(x => ("g", x, m * x + 5))
    val got = graft.ops.Trend.linearTrend(
      pts.toDF("g", "x", "y").repartition(3), "g", "x", "y").head()
    assert(got.getLong(1) == 11L)
    assert(got.getDouble(2) == 9.0e17, s"slope ${got.getDouble(2)}")
    assert(got.getDouble(3) == 5.0, s"intercept ${got.getDouble(3)}")

    // anomalyFlags at micro-unit scale: baseline 1e9 with a 1e12 spike —
    // (w·y − S)² ≈ 3.6e25, past 2^63 (the ADVICE wrap scenario). The
    // decimal inequality must match a BigInt reference at every point.
    val ys = Seq(1000000000L, 1000000001L, 999999999L, 1000000000L,
      1000000000L, 1000000002L, 1000000000000L, 1000000000L, 999999998L)
    val series = ys.zipWithIndex.map { case (y, x) => ("a", x.toLong, y) }
      .toDF("g", "x", "y").repartition(2)
    val flags = graft.ops.Trend.anomalyFlags(series, "g", "x", "y", window = 7)
      .collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    ys.indices.foreach { i =>
      val win = ys.slice(math.max(0, i - 6), i + 1).map(BigInt(_))
      val (w, s, q) = (BigInt(win.size), win.sum, win.map(v => v * v).sum)
      val want = (w * ys(i) - s).pow(2) > 4 * (w * q - s * s)
      assert(flags(i.toLong) == want, s"x=$i")
    }
    assert(flags(6L), "the 1e12 spike must flag")
    assert(!flags(7L) && !flags(8L),
      "post-spike points sit inside the spike-inflated sigma")
  }

  test("Collocations.pmiTopK: lift matches hand counts; hapax guarded; ties break on bigram") {
    import spark.implicits._
    // "aa bb" appears 6x (planted collocation), fillers pad the counts;
    // "cc dd" appears 4x — under minCount 5, must not surface
    val docs = (Seq.fill(6)("aa bb") ++ Seq.fill(4)("cc dd") ++
      Seq.fill(3)("aa xx") ++ Seq.fill(2)("yy bb"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val top = graft.text.Collocations.pmiTopK(docs, "text", minCount = 5L, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(top.length == 1 && top(0)._1 == "aa bb")
    // hand arithmetic: B = 15 bigrams, c_aa=9, c_bb=8, c_xy=6
    assert(top(0)._2 == 6L && top(0)._3 == 9L && top(0)._4 == 8L)
    assert(top(0)._5 == 6.0 * 15 / 9 / 8)
  }

  test("Triangles: exact per-node counts under dupes/reversals/self-loops") {
    import spark.implicits._
    // K4 on {a,b,c,d}: 4 triangles, every node in 3. Square {p,q,r,s}
    // with diagonal p-r: 2 triangles, p and r in both, q and s in one.
    // Star hub h->1..5: 0 triangles. Edges arrive duplicated, reversed,
    // and with a self-loop — all must be canonicalized away.
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d", "c" -> "d")
    val sq = Seq("p" -> "q", "q" -> "r", "r" -> "s", "s" -> "p", "p" -> "r")
    val star = (1 to 5).map(i => "h" -> s"n$i")
    val noise = Seq("b" -> "a", "c" -> "a", "a" -> "a", "q" -> "p") // dupes/reverse/loop
    val edges = (k4 ++ sq ++ star ++ noise).toDF("a", "b").repartition(4)

    val got = graft.ops.Triangles.countPerNode(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "p" -> 2L, "r" -> 2L, "q" -> 1L, "s" -> 1L))

    val total = graft.ops.Triangles.countTotal(edges).head.getLong(0)
    assert(total == 6L) // 4 in K4 + 2 in the split square

    // a hub under degree orientation keeps no out-edges beyond its rank:
    // the pure star yields zero rows, not a wedge explosion
    assert(graft.ops.Triangles.countPerNode(star.toDF("a", "b")).isEmpty)
  }

  test("Triangles.deltaPerNode: delta-anchored enumeration == recount diff, every case") {
    import spark.implicits._
    // standing: square 1-2-3-4 with diagonal 1-3 (2 triangles) + wedge
    // 10-11, 11-12 (open) + edge pair 20-21, 20-22 (open)
    val standing = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 20L -> 21L, 20L -> 22L)
    // delta: 10-12 closes the standing wedge (case 3); 21-22 closes the
    // pair through a delta middle/closing edge; 30-31/31-32/30-32 an
    // all-delta clique (counted once per triangle, not once per case);
    // 2-3 a STALE edge already standing (must close nothing new);
    // reversed/duplicated arrivals and a self-loop for canonicalization
    val delta = Seq(10L -> 12L, 21L -> 22L, 30L -> 31L, 31L -> 32L,
      30L -> 32L, 2L -> 3L, 3L -> 2L, 12L -> 10L, 33L -> 33L)
    val got = graft.ops.Triangles
      .deltaPerNode(standing.toDF("a", "b").repartition(3),
        delta.toDF("a", "b").repartition(2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 11L -> 1L, 12L -> 1L,
      20L -> 1L, 21L -> 1L, 22L -> 1L, 30L -> 1L, 31L -> 1L, 32L -> 1L), got)
    // the defining identity on a denser mixed graph: delta counts ==
    // countPerNode(union) − countPerNode(standing), node for node
    val s2 = (0L to 20L).flatMap(i => Seq(i -> (i + 1), i -> (i + 3)))
    val d2 = Seq(0L -> 2L, 5L -> 9L, 7L -> 8L, 14L -> 20L, 2L -> 5L)
    val inc = graft.ops.Triangles
      .deltaPerNode(s2.toDF("a", "b"), d2.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = graft.ops.Triangles.countPerNode(s2.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = graft.ops.Triangles
      .countPerNode((s2 ++ d2).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val diff = after.map { case (n, c) => n -> (c - before.getOrElse(n, 0L)) }
      .filter(_._2 > 0)
    assert(inc == diff, s"inc=$inc diff=$diff")
  }

  test("Merge.snapshotDiff: exact I/U/D delta, NULL transitions, roundtrip") {
    import spark.implicits._
    val v0 = Seq(
      (1L, Option("a"), Option(1.0)),  // unchanged
      (2L, None: Option[String], Option(2.0)),  // NULL -> value (U)
      (3L, Option("c"), Option(3.0)),  // value -> NULL (U)
      (4L, Option("d"), Option(4.0)),  // deleted
      (5L, Option("e"), None: Option[Double]))  // unchanged, with a NULL
      .toDF("k", "s", "v").repartition(3)
    val v1 = Seq(
      (1L, Option("a"), Option(1.0)),
      (2L, Option("x"), Option(2.0)),
      (3L, None: Option[String], Option(3.0)),
      (5L, Option("e"), None: Option[Double]),
      (6L, Option("f"), Option(6.0)))  // inserted
      .toDF("k", "s", "v").repartition(2)

    val diff = graft.ops.Merge.snapshotDiff(v0, v1, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.toString).orNull,
        Option(r.get(3)).map(_.toString).orNull)).toSet
    assert(diff == Set(
      (2L, "U", "x", "2.0"),
      (3L, "U", null, "3.0"),
      (4L, "D", "d", "4.0"),   // D carries the OLD row (the retraction)
      (6L, "I", "f", "6.0")))

    // roundtrip through the public consumer: applyDiff(v0, diff) == v1
    val d = graft.ops.Merge.snapshotDiff(v0, v1, Seq("k"))
    val applied = graft.ops.Merge.applyDiff(v0, d, Seq("k"))
    assert(applied.collect().map(_.toString).sorted.toSeq ==
      v1.collect().map(_.toString).sorted.toSeq)

    // order-insensitive schemas: v1 arrives with columns permuted — the
    // diff must align by NAME, not position
    val v1p = v1.select($"v", $"k", $"s")
    val dp = graft.ops.Merge.snapshotDiff(v0, v1p, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dp == Set((2L, "U"), (3L, "U"), (4L, "D"), (6L, "I")))

    // user columns carrying the internal prefix must not collide
    val w0 = Seq((1L, "a"), (2L, "b")).toDF("k", "__o_s")
    val w1 = Seq((1L, "a"), (2L, "B")).toDF("k", "__o_s")
    val dw = graft.ops.Merge.snapshotDiff(w0, w1, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(dw == Set((2L, "U", "B")))

    // mismatched column sets fail loudly
    intercept[IllegalArgumentException] {
      graft.ops.Merge.snapshotDiff(v0, v1.drop("v"), Seq("k"))
    }
  }

  test("EditDistanceJoin: pairs equal the brute-force levenshtein join") {
    import spark.implicits._
    // clusters within distance 1-2 of each other, plus decoys at length
    // offsets > k and at distance exactly k+1
    val words = Seq("kitten", "sitten", "sitting", "mitten", "kittens",
      "flaw", "flaws", "claw", "lawn", "completely_different",
      "abcde", "abfde", "azcze", "a", "ab", "xyz")
    val df = words.zipWithIndex.map { case (w, i) => (f"id$i%02d", w) }
      .toDF("id", "str").repartition(5)

    for (k <- Seq(1, 2)) {
      val got = graft.text.EditDistanceJoin.selfJoin(df, "id", "str", k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      // brute-force reference: tiny-n cross join + codegen levenshtein
      val a = df.select($"id".as("id_a"), $"str".as("sa"))
      val b = df.select($"id".as("id_b"), $"str".as("sb"))
      val want = a.crossJoin(b).filter($"id_a" < $"id_b")
        .withColumn("dist", levenshtein($"sa", $"sb")).filter($"dist" <= k)
        .select($"id_a", $"id_b", $"dist")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(want.nonEmpty, s"k=$k reference must find pairs")
      assert(got == want, s"k=$k")
    }

    // NULL / empty strings are ignored, never matched or crashed on
    val withNulls = df.unionByName(
      Seq(("idn1", null: String), ("idn2", "")).toDF("id", "str"))
    val got1 = graft.text.EditDistanceJoin.selfJoin(withNulls, "id", "str", 1)
      .collect().map(_.getString(0)).toSet
    assert(!got1.contains("idn1") && !got1.contains("idn2"))
  }

  test("LabelProp: two bridged cliques split into min-labeled communities; sync semantics hand-checked") {
    import spark.implicits._
    // two 4-cliques {0..3} and {10..13} joined by the single bridge
    // 3—10: communities must NOT merge (CC would), and each keeps its
    // minimum node id as label. Hand-run of the synchronous + self-vote
    // rounds: r1 sends node 10 to label 3 via the bridge (min over five
    // singleton votes), r2 pulls it back (its clique mates now all
    // carry 10, outvoting the bridge), r3 is stable.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L), (10L, 3L))).toDF("src", "dst").repartition(4)
    val got = graft.ops.LabelProp.run(edges, "src", "dst", nIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))

    // a single undirected edge: the self-vote ties (count 1 each) and
    // the min-label break sends BOTH ends to the smaller id in round 1
    // — the case the self-vote-free synchronous variant oscillates on
    val pairGot = graft.ops.LabelProp.run(
      Seq((5L, 7L), (7L, 5L)).toDF("src", "dst"), "src", "dst", nIters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairGot == Map(5L -> 5L, 7L -> 5L))

    // zero rounds = the seed labeling; string ids rejected loudly
    val seeds = graft.ops.LabelProp.run(edges, "src", "dst", nIters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seeds.forall { case (n, l) => n == l } && seeds.size == 8)
    intercept[IllegalArgumentException] {
      graft.ops.LabelProp.run(Seq(("a", "b")).toDF("src", "dst"), "src", "dst", 1)
    }
  }

  test("CommonNeighbors: counts/jaccard hand-checked; maxDeg drops hub wedges; dupes ignored") {
    import spark.implicits._
    // s1: {c1,c2,c3}, s2: {c2,c3,c4}, s3: {c4}, hub c9 shared by all
    val edges = Seq(
      (1L, 101L), (1L, 102L), (1L, 103L), (1L, 999L),
      (2L, 102L), (2L, 103L), (2L, 104L), (2L, 999L),
      (3L, 104L), (3L, 999L),
      (1L, 101L) // duplicate edge must not double-count
    ).toDF("s", "c")
    val got = graft.ops.CommonNeighbors.topK(edges, "s", "c", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // with the hub: (1,2) share {102,103,999}=3 of deg 4+4; (1,3) share
    // {999}; (2,3) share {104,999}
    assert(got == Map(
      (1L, 2L) -> ((3L, 4L, 4L, 3.0 / 5.0)),
      (2L, 3L) -> ((2L, 4L, 2L, 2.0 / 4.0)),
      (1L, 3L) -> ((1L, 4L, 2L, 1.0 / 5.0))))
    // maxDeg=2 drops hub 999 (degree 3): its wedges AND its degree mass
    val capped = graft.ops.CommonNeighbors.topK(edges, "s", "c", k = 10,
        maxDeg = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(capped == Map(
      (1L, 2L) -> ((2L, 3L, 3L)),
      (2L, 3L) -> ((1L, 3L, 1L))))
    // top-k boundary respects the (common DESC, a, b) total order
    val top1 = graft.ops.CommonNeighbors.topK(edges, "s", "c", k = 1).head()
    assert((top1.getLong(0), top1.getLong(1)) == ((1L, 2L)))
  }

  test("systematicWeighted: budget pinned per stratum, heavy rows kept, repartition-invariant") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, 10L + i % 91)).toDF("id", "w")
    val step = 700L
    val sel = graft.ops.Sampling.systematicWeighted(df, "id", "w", step,
      buckets = 8).persist()
    try {
      // selection is a pure function of (id, w): repartitioning the input
      // changes nothing
      val sel2 = graft.ops.Sampling.systematicWeighted(
        df.repartition(13), "id", "w", step, buckets = 8)
      assert(sel.orderBy("id").collect().toSeq ==
        sel2.orderBy("id").collect().toSeq)
      // per-stratum count = floor(stratumWeight/step) ± 1 (phase effect)
      val hcol = org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.conv(org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(org.apache.spark.sql.functions.concat_ws(":",
            org.apache.spark.sql.functions.lit("syssamp"), $"id".cast("string"))),
          1, 15), 16, 10).cast("long"), org.apache.spark.sql.functions.lit(8L))
      val perStratumW = df.withColumn("b", hcol).groupBy("b")
        .agg(org.apache.spark.sql.functions.sum($"w").as("tw"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perStratumN = sel.withColumn("b", hcol).groupBy("b")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      perStratumW.foreach { case (b, tw) =>
        val n = perStratumN.getOrElse(b, 0L)
        assert(math.abs(n - tw / step) <= 1, s"stratum $b: n=$n for tw=$tw")
      }
      // a row heavier than step is always selected (exactly once)
      val withWhale = df.unionByName(Seq((99999L, 5000L)).toDF("id", "w"))
      val whale = graft.ops.Sampling.systematicWeighted(
        withWhale, "id", "w", step, buckets = 8)
        .filter($"id" === 99999L).count()
      assert(whale == 1L)
    } finally { sel.unpersist(); () }
  }

  test("temperatureSample: exact per-group targets, tail upsampled, repartition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // skewed mix: head 'en' 1600 docs, tail 'sw' 100 docs
    val df = ((0L until 1600L).map(i => (i, "en")) ++
      (10000L until 10100L).map(i => (i, "sw"))).toDF("id", "lang")
    val sel = graft.ops.Sampling.temperatureSample(df, "lang", "id", lit(850L))
      .persist()
    try {
      // per-group counts are EXACTLY the declared t_grp, Σ ≤ budget
      val got = sel.groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tg = sel.select($"lang", $"t_grp").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == tg, s"counts $got != targets $tg")
      assert(got.values.sum <= 850L)
      // α = 1/2 reshapes the mix: the tail keeps a LARGER fraction than
      // the head (⌊√1600⌋=40 vs ⌊√100⌋=10 → en 850*40/50=680 of 1600
      // = 42.5%, sw min(100, 850*10/50=170) = 100 of 100 = 100%)
      assert(tg("en") == 680L && tg("sw") == 100L, s"targets $tg")
      // selection is a pure function of the key hash: repartitioning
      // changes nothing
      val sel2 = graft.ops.Sampling.temperatureSample(
        df.repartition(13), "lang", "id", lit(850L))
      assert(sel.orderBy("lang", "id").collect().toSeq ==
        sel2.orderBy("lang", "id").collect().toSeq)
    } finally { sel.unpersist(); () }
  }

  test("Itemsets.frequentPairs: a-priori prunes rare items, pair threshold bites, lift exact") {
    // 10 baskets; x,y in 8 of them together; z in 3; rare in 1
    val rows = (1L to 10L).flatMap { b =>
      val base = Seq((b, "x"))
      val withY = if (b <= 8) Seq((b, "y")) else Nil
      val withZ = if (b <= 3) Seq((b, "z")) else Nil
      val withRare = if (b == 1) Seq((b, "rare")) else Nil
      base ++ withY ++ withZ ++ withRare
    }
    val df = rows.toDF("bk", "item")
    // 25% item support: x(10), y(8), z(3) pass; rare(1) pruned
    val out = graft.ops.Itemsets.frequentPairs(df, "bk", "item", 2500)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // pair support 25% of 10 baskets = 2.5 -> n_ab >= 3 (integer
    // inequality): (x,y)=8 and (x,z)=3 pass, (y,z)=3 passes too
    val expect = Set(
      ("x", "y", 8L, 10L, 8L, 10.0 * 8 / (10 * 8)),
      ("x", "z", 3L, 10L, 3L, 10.0 * 3 / (10 * 3)),
      ("y", "z", 3L, 8L, 3L, 10.0 * 3 / (8 * 3)))
    assert(out.toSet == expect, out.mkString(","))
    // duplicate (basket, item) rows don't inflate counts
    val dup = graft.ops.Itemsets.frequentPairs(
      df.unionByName(df), "bk", "item", 2500)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(dup == expect.map(t => (t._1, t._2, t._3)))
    // tighter threshold drops the weaker pairs but keeps (x,y)
    val tight = graft.ops.Itemsets.frequentPairs(df, "bk", "item", 5000)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tight == Seq(("x", "y")))
  }

  test("Sssp: lighter long path beats direct edge; fixpoint stops; negatives rejected") {
    // 1 -> 2 direct weight 10; 1 -> 3 -> 2 weight 2+3=5; 2 -> 4 weight 1
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    // after 1 round the direct edge wins; after 2 the lighter path does
    val r1 = graft.ops.Sssp.runRounds(edges, 1L, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 2L))
    val r3 = graft.ops.Sssp.runRounds(edges, 1L, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L))
    // fixpoint: converges in 3 rounds (labels stop changing), answer ==
    // the fixed-round answer, and the 4th round is never run
    val (fp, rounds) = graft.ops.Sssp.runToFixpoint(edges, 1L, maxRounds = 25)
    assert(fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == r3)
    assert(rounds <= 4, s"roundsRun=$rounds")
    // negative weights fail loudly at evaluation
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    intercept[Exception] {
      graft.ops.Sssp.runRounds(neg, 1L, 1).collect()
    }
    // NULL weights fail loudly too — min() ignores nulls, so without the
    // guard a NULL-weight edge silently relaxes nothing (edge vanishes)
    val nul = Seq((1L, 2L, Some(4L)), (1L, 3L, Option.empty[Long]))
      .toDF("src", "dst", "w")
    intercept[Exception] {
      graft.ops.Sssp.runRounds(nul, 1L, 1).collect()
    }
  }

  test("Skyline.skyline2d: equals brute-force dominance on random points; ties survive") {
    // minimize x, maximize y: the frontier is the increasing-x,
    // increasing-y chain (a point with larger x survives only if its y
    // beats every cheaper point's y)
    val planted = Seq(
      (1L, 1.0, 2.0),               // cheapest - frontier
      (2L, 3.0, 5.0), (3L, 5.0, 7.0),
      (4L, 5.0, 7.0),               // exact tie of id 3 - both survive
      (5L, 5.0, 6.0),               // same x as 3, smaller y - dominated
      (6L, 4.0, 4.0),               // dominated by id 2 (cheaper, higher)
      (7L, 6.0, 7.0),               // y EQUAL to a cheaper point's - dominated
      (8L, 6.0, 8.0))               // frontier (first y above 7)
    val df = planted.toDF("id", "x", "y")
    val got = graft.ops.Skyline.skyline2d(df, "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 4L, 8L), got.toSeq.sorted.mkString(","))
    // randomized cross-check vs the quadratic definition (fixed seed)
    val rnd = new scala.util.Random(42)
    val pts = (1L to 300L).map(i =>
      (i, rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
    val pdf = pts.toDF("id", "x", "y")
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, sx, sy) =>
        sx <= x && sy >= y && (sx < x || sy > y) }
    }.map(_._1).toSet
    val dist = graft.ops.Skyline.skyline2d(pdf, "x", "y", bands = 7)
      .select("id").as[Long].collect().toSet
    assert(dist == brute,
      s"missing=${(brute -- dist).toSeq.sorted} extra=${(dist -- brute).toSeq.sorted}")
    // bands = 1 (single band: pure in-band sweep) agrees too
    val one = graft.ops.Skyline.skyline2d(pdf, "x", "y", bands = 1)
      .select("id").as[Long].collect().toSet
    assert(one == brute)
  }

  test("KCore: cascading peel vs naive filter; empty core; non-convergence raises") {
    import org.apache.spark.sql.functions._
    // triangle {1,2,3} (each degree 2) + a pendant path 3-10-11-12-13:
    // path interior nodes have degree 2 — a ONE-SHOT deg>=2 filter keeps
    // them — but the true 2-core peels the path from its end in cascade
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val core = graft.ops.KCore.kcore(edges, "src", "dst", k = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(core == Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      s"2-core must be the triangle alone, got $core")
    // the naive one-shot filter would ALSO keep 10, 11, 12 (degree 2)
    val naive = edges.groupBy($"src").count().filter($"count" >= 2).count()
    assert(naive > 3, "specimen must distinguish cascade from one-shot filter")
    // k above the max degree: empty core, no error
    assert(graft.ops.KCore.kcore(edges, "src", "dst", k = 5).count() == 0)
    // a cascade longer than maxRounds must raise, not return half-peeled
    val e = intercept[IllegalArgumentException] {
      graft.ops.KCore.kcore(edges, "src", "dst", k = 2, maxRounds = 2).count()
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("Scc: bowtie labels exact, tendrils peel in cascade, round guard raises") {
    import org.apache.spark.sql.functions._
    // miniature web bowtie: IN-tendril 1 → core cycle {10,11,12} →
    // OUT-tendril 20, plus a separate 2-cycle {30,31} and a directed
    // 3-path 40→41→42 (each node its own SCC — resolves one per round)
    val edges = Seq(
      (1L, 10L), (10L, 11L), (11L, 12L), (12L, 10L), (12L, 20L),
      (30L, 31L), (31L, 30L), (40L, 41L), (41L, 42L)).toDF("src", "dst")
    val got = graft.ops.Scc.scc(edges, "src", "dst")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq(1L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 41L, 42L -> 42L),
      s"scc labels wrong: $got")
    // a tendril cascade longer than maxRounds must raise, never return
    // a partial labeling
    val e = intercept[IllegalArgumentException] {
      graft.ops.Scc.scc(edges, "src", "dst", maxRounds = 2).count()
    }
    assert(e.getMessage.contains("unresolved"))
    // self-loops are ignored: a pure self-loop graph has no edges left
    val loops = Seq((5L, 5L)).toDF("src", "dst")
    assert(graft.ops.Scc.scc(loops, "src", "dst").count() == 0)
    // ids must be integral: a cast would make 1.2 and 1.7 one node 1, and
    // turn uncastable strings into NULLs whose edges vanish
    val nonIntegral = Seq(
      "double ids" -> Seq((1.2, 1.7), (1.7, 1.2)).toDF("src", "dst"),
      "string ids" -> Seq(("a", "b"), ("b", "a")).toDF("src", "dst"))
    for ((what, bad) <- nonIntegral) {
      val ex = intercept[IllegalArgumentException](graft.ops.Scc.scc(bad, "src", "dst"))
      assert(ex.getMessage.contains("integral"), what)
    }
  }

  test("RandomWalk: choices replay the md5 recipe; dangling nodes stop with NULLs") {
    import org.apache.spark.sql.functions._
    // 1 -> {2, 3} (two choices), 2 -> {1}, 3 dangles (no out-edges);
    // 10 -> a multi-band neighbor list (bandShift=8 bands -2,-1,0,1,2,3
    // incl. negatives): with hubDegree=4 node 10 takes the BANDED hub
    // rank path while 1 and 2 take the plain window — both must yield
    // the same global dst-rank the driver replay assumes
    val hubDsts = Seq(-300L, -2L, 5L, 250L, 260L, 300L, 511L, 513L, 1000L)
    val edges = (Seq((1L, 2L), (1L, 3L), (2L, 1L)) ++ hubDsts.map((10L, _)))
      .toDF("src", "dst")
    val got = graft.ops.RandomWalk.walks(edges, "src", "dst", steps = 3,
        hubDegree = 4)
      .orderBy($"walk_id")
      .collect().map(r => (r.getLong(0),
        Seq(1, 2, 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i)))))
    // replay the operator's own choice recipe driver-side
    def md5_60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L), 10L -> hubDsts.sorted)
    def walk(start: Long): Seq[Option[Long]] = {
      var cur: Option[Long] = Some(start)
      (1 to 3).map { t =>
        cur = cur.flatMap(c => adj.get(c).map(ns =>
          ns(((md5_60(s"walk:$start:$t") % ns.size) + ns.size).toInt % ns.size)))
        cur
      }
    }
    // only nodes WITH out-edges start a walk (3 dangles -> no walk row)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 10L))
    got.foreach { case (w, steps) =>
      assert(steps == walk(w), s"walk $w: got $steps expected ${walk(w)}")
    }
    // a walk that reaches the dangling node stays NULL afterwards
    val reaching = got.collect {
      case (_, steps) if steps.contains(Some(3L)) => steps }
    reaching.foreach { steps =>
      val i = steps.indexOf(Some(3L))
      assert(steps.drop(i + 1).forall(_.isEmpty), steps.mkString(","))
    }
  }

  test("AggFunctions.regMax: element-wise max across groups; width mismatch fails loudly") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", Seq(1, 5, 0)), ("a", Seq(3, 2, 4)), ("b", Seq(7, 0, 1)))
      .toDF("g", "regs")
    val got = df.groupBy(col("g"))
      .agg(graft.functions.AggFunctions.regMax(col("regs")).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toVector).toMap
    assert(got == Map("a" -> Vector(3, 5, 4), "b" -> Vector(7, 0, 1)))
    val bad = Seq(("a", Seq(1, 2)), ("a", Seq(1, 2, 3))).toDF("g", "regs")
    val e = intercept[Exception] {
      bad.groupBy(col("g"))
        .agg(graft.functions.AggFunctions.regMax(col("regs")).as("m")).collect()
    }
    assert(e.getMessage != null)
  }

  test("HyperAnf: ball registers equal the HLL of the exact BFS ball at every radius") {
    // directed path with a branch: 1 -> 2 -> 3 -> 4, plus 2 -> 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val p = 4
    val got = graft.ops.HyperAnf.ballRegisters(edges, rounds = 3, p = p)
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Int](2).toVector))
      .toMap
    // driver reference: exact balls along OUT-edges, then the q128
    // register recipe over each ball's members
    def md5_60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val adj = Map(1L -> Set(2L), 2L -> Set(3L, 5L), 3L -> Set(4L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    def ball(v: Long, r: Int): Set[Long] =
      if (r == 0) Set(v)
      else ball(v, r - 1) ++ ball(v, r - 1).flatMap(w => adj.getOrElse(w, Set.empty))
    def regsOf(members: Set[Long]): Vector[Int] = {
      val m = new Array[Int](1 << p)
      members.foreach { v =>
        val h = md5_60(s"anf:$v")
        val j = (h % (1 << p)).toInt
        val q = h >>> p
        val rank = if (q == 0) 61 - p else 61 - p - java.lang.Long.toBinaryString(q).length
        m(j) = math.max(m(j), rank)
      }
      m.toVector
    }
    for (r <- 0 to 3; v <- nodes)
      assert(got((r, v)) == regsOf(ball(v, r)), s"node $v radius $r")
    // saturation: node 1's ball stops growing at radius 3 (covers 1,2,3,4,5)
    assert(got((3, 1L)) == regsOf(Set(1L, 2L, 3L, 4L, 5L)))
  }

  test("HyperAnf: p=8 ball registers match the exact-ball HLL; plan size is p-invariant") {
    // RegMaxInts' claim is ONE constant-size aggregate at ANY p — this
    // exercises the fixpoint end-to-end at the p = 8 bound (the kernel's
    // width test alone doesn't drive the per-round union), and pins the
    // KMeansInt tree-size discipline on the PLAN: 16x the registers must
    // not grow the node+expression count (registers ride as array values
    // and literals, never as per-register expressions).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    def md5_60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val adj = Map(1L -> Set(2L), 2L -> Set(3L, 5L), 3L -> Set(4L))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    def ball(v: Long, r: Int): Set[Long] =
      if (r == 0) Set(v)
      else ball(v, r - 1) ++ ball(v, r - 1).flatMap(w => adj.getOrElse(w, Set.empty))
    def regsOf(members: Set[Long], p: Int): Vector[Int] = {
      val m = new Array[Int](1 << p)
      members.foreach { v =>
        val h = md5_60(s"anf:$v")
        val j = (h % (1 << p)).toInt
        val q = h >>> p
        val rank = if (q == 0) 61 - p else 61 - p - java.lang.Long.toBinaryString(q).length
        m(j) = math.max(m(j), rank)
      }
      m.toVector
    }
    val df8 = graft.ops.HyperAnf.ballRegisters(edges, rounds = 3, p = 8)
    val got8 = df8.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Int](2).toVector)).toMap
    for (r <- 0 to 3; v <- nodes)
      assert(got8((r, v)) == regsOf(ball(v, r), 8), s"node $v radius $r (p=8)")
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case n =>
        1 + n.expressions.map(e => e.collect { case x => x }.size).sum
      }.sum
    val df4 = graft.ops.HyperAnf.ballRegisters(edges, rounds = 3, p = 4)
    assert(planSize(df8) == planSize(df4),
      s"plan grew with p: p8=${planSize(df8)} p4=${planSize(df4)}")
  }

  test("DatasetCard: merged partials equal the from-scratch card at every shard count") {
    import org.apache.spark.sql.DataFrame
    // docs 1, 2, 3 share a normalized fingerprint ACROSS sources (and,
    // under doc_id sharding, across shards) — the cross-shard dup merge
    // is the part a per-shard recompute cannot get right; doc 5 pins the
    // empty-text phantom-token guard through the partial path.
    val docs = Seq(
      (1L, "web", "en", "hello world", 11L),
      (2L, "web", "en", "  hello   World ", 16L),
      (3L, "wiki", "en", "hello world", 11L),
      (4L, "wiki", "de", "etwas anderes", 13L),
      (5L, "web", "de", "", 0L)
    ).toDF("doc_id", "source", "lang", "text", "n_chars")
    def cardMap(df: DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val scratch = cardMap(graft.ops.DatasetCard.card(docs))
    // sanity on the fixture itself: 3 dup docs globally, visible per cell
    assert(scratch(("__all", "__all")) == (5L, 3L, 8L, 51L))
    assert(scratch(("web", "en")) == (2L, 2L, 4L, 27L))
    assert(scratch(("wiki", "en")) == (1L, 1L, 2L, 11L))
    assert(scratch(("web", "de"))._3 == 0L) // empty text -> 0 tokens
    for (n <- Seq(1, 3, 8)) {
      val (cells, fps) = graft.ops.DatasetCard.partials(docs, n)
      assert(cardMap(graft.ops.DatasetCard.merge(cells, fps)) == scratch,
        s"nShards=$n")
    }
    // degenerate boundary: the identity holds at ZERO documents too —
    // card() of an empty corpus is zero rows, and merge of its (empty)
    // partials must be as well, not a null-sum '__all' row
    val none = docs.filter(org.apache.spark.sql.functions.lit(false))
    assert(graft.ops.DatasetCard.card(none).count() == 0L)
    val (ec, ef) = graft.ops.DatasetCard.partials(none, 4)
    assert(graft.ops.DatasetCard.merge(ec, ef).count() == 0L)
  }

  test("TextExtract: script/style subtrees drop, tags strip, entities decode once") {
    import org.apache.spark.sql.functions.col
    // script body contains a '<div>' string and a comparison 'a<b'; the
    // style body contains the '>' combinator; '&amp;lt;' must decode
    // exactly ONCE (to the literal '&lt;'); entity-decoding happens
    // AFTER tag-strip, so decoded '<two>' survives as prose
    val html = "<html><head><script type=\"x\">if (a<b) { emit(\"<div>\") }" +
      "</script>\n<style>a>b {}</style></head><body><h1>T &amp; U</h1>\n" +
      "<p class=\"x\">one &lt;two&gt; &amp;lt; three&#39;s &quot;q&quot;</p>" +
      "<br/></body></html>"
    val df = Seq((1L, html)).toDF("id", "h")
    val got = df.select(
      graft.text.TextExtract.extractText(col("h")).as("c"),
      graft.text.TextExtract.title(col("h")).as("t")).head
    assert(got.getString(0) == "T & U one <two> &lt; three's \"q\"",
      s"[${got.getString(0)}]")
    assert(got.getString(1) == "T &amp; U", got.getString(1)) // title is raw
  }

  test("Frontier.additions: exact set difference, FP-safe, empty-index edge") {
    import org.apache.spark.sql.functions.col
    val visited = Seq("https://a.example/x", "https://b.example/y")
      .toDF("canonical_url")
    // raw delta links: a revisit under a NOISY surface form (must
    // canonicalize before adjudication), a fresh url seen twice from two
    // docs, and another fresh one
    val delta = Seq(
      (10L, "HTTPS://WWW.A.Example:443/x?utm_source=z"),
      (11L, "https://c.example/new?b=2&a=1"),
      (12L, "https://c.example/new?a=1&b=2"),
      (13L, "https://d.example/other")).toDF("doc_id", "url")
    // fpp=0.5 forces bloom false positives through the exact path often
    val got = graft.ops.Frontier.additions(visited, delta, fpp = 0.5)
      .orderBy("canonical_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("https://c.example/new?a=1&b=2", 2L, 11L),
      ("https://d.example/other", 1L, 13L)))
    // empty standing index: every delta target is new
    val none = visited.filter(col("canonical_url").isNull)
    assert(graft.ops.Frontier.additions(none, delta).count() == 3L)
  }

  test("C4LineClean: line rules, page gates, corpus keep-first line dedup") {
    import org.apache.spark.sql.functions.col
    def page(ls: String*): String = ls.mkString("\n")
    val docs = Seq(
      // doc 0: nav boilerplate + unique content; a 2-word line and a
      // no-terminal-punct line fall to the line rules
      0L -> page("Nav bar here.", "Unique alpha sentence one.",
        "Too short.", "no terminal punct"),
      // doc 1: nav repeats (doc 0 keeps it), javascript line drops
      1L -> page("Nav bar here.", "Unique beta sentence two!",
        "Requires JavaScript to view."),
      // docs 2/3: page-level drops (brace, lorem ipsum)
      2L -> page("A curly { brace snippet.", "Valid line stays here.",
        "Another valid line here."),
      3L -> page("Lorem Ipsum filler text.", "Valid line stays here.",
        "Another valid line here."),
      // doc 4: only ONE line survives the line rules -> minLines gate
      4L -> page("Single surviving sentence four.", "nope", "x."),
      // doc 5: a WITHIN-doc duplicate keeps only its first occurrence
      5L -> page("Echo echo line.", "Echo echo line.",
        "Unique delta line five."))
      .toDF("doc_id", "page")
    val got = graft.text.C4LineClean
      .clean(docs, "page", "doc_id", minWords = 3, minLines = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, "Nav bar here.\nUnique alpha sentence one."),
      (1L, 2L, 1L, "Unique beta sentence two!"),
      (5L, 3L, 2L, "Echo echo line.\nUnique delta line five.")))
  }

  test("MultimodalPipeline.card: keep-one is CLUSTER semantics across a hamming chain") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}
    // Stub fingerprint/augment stages isolate the composition logic the
    // oracle corpus can't pin in isolation: a near-dup CHAIN 1–3–4 where
    // (1,4) is itself beyond the hamming radius — greedy pairwise drop
    // would keep 4 (its only ≤3 partner, 3, got dropped); components must
    // drop it. 2 is an identical-hash twin of 1 (class collapse); 5 is
    // far from everything (shares no band). Survivors = {1, 5} exactly.
    val assets = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
      .withColumn("payload", lit(Array.emptyByteArray))
    val bands = Seq(
      (1L, 0, 0, 0, 0),
      (2L, 0, 0, 0, 0),          // same hash as 1 -> class {1, 2}, rep 1
      (3L, 7, 0, 0, 0),          // hamming(1,3) = 3 -> near pair
      (4L, 7, 7, 0, 0),          // hamming(3,4) = 3, hamming(1,4) = 6
      (5L, 9999, 8888, 7777, 6666)) // no shared band with anyone
      .toDF("doc_id", "b0", "b1", "b2", "b3")
    val card = graft.multimodal.MultimodalPipeline.card("stub", assets,
      fingerprint = a => bands.join(a.select(col("doc_id")), Seq("doc_id")),
      augment = a => a.select(col("doc_id"), (col("doc_id") * 10).as("stat"),
        (col("doc_id") * 100).as("wstat")))
    val r = card.collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ("stub", 5L, 3L, 2L, 60L, 600L),
      r.toString)
  }

  test("MultimodalPipeline.deltaVerdicts: first-writer-wins against the standing index") {
    // standing index: hashes H1 = (0,0,0,0) rep 10, H2 = (100,...) rep 20
    val standing = Seq((0, 0, 0, 0, 10L), (100, 100, 100, 100, 20L))
      .toDF("b0", "b1", "b2", "b3", "rep")
    // delta: 30 exact-matches H1; 31 is hamming-1 to H1 (direct attach);
    // 32/33 share a fresh hash (intra-delta exact pair); 34 is hamming-1
    // to 32 (unattached delta component -> keeper 32); 35 is hamming-3
    // to 31's hash but hamming-4 to H1 — attached only THROUGH its
    // component (the propagation a per-rep check would miss); 36 far.
    val delta = Seq(
      (0, 0, 0, 0, 30L), (1, 0, 0, 0, 31L),
      (7, 7, 7, 7, 32L), (7, 7, 7, 7, 33L), (7, 7, 7, 15, 34L),
      (1, 7, 0, 0, 35L), (1000, 1001, 1002, 1003, 36L))
      .toDF("b0", "b1", "b2", "b3", "doc_id")
    val got = graft.multimodal.MultimodalPipeline
      .deltaVerdicts(standing, delta)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(30L -> false, 31L -> false, 32L -> true, 33L -> false,
      34L -> false, 35L -> false, 36L -> true), got.toString)

    // index maintenance closes the ingest loop: advancing past the delta
    // equals the batch-built union index (chained ingests can't drift),
    // and DROPPED classes are remembered — a later re-submission of 33's
    // hash must adjudicate against rep 32, not pass as novel
    import graft.multimodal.MultimodalPipeline.advanceIndex
    def idx(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getLong(4)).toMap
    val advanced = advanceIndex(standing, delta)
    val batch = advanceIndex(
      standing.limit(0), // empty index
      standing.withColumnRenamed("rep", "doc_id").unionByName(delta))
    assert(idx(advanced) == idx(batch), s"${idx(advanced)} vs ${idx(batch)}")
    assert(idx(advanced)((7, 7, 7, 7)) == 32L) // dropped 33's hash remembered via rep 32
    val resubmit = Seq((7, 7, 7, 7, 50L)).toDF("b0", "b1", "b2", "b3", "doc_id")
    val v2 = graft.multimodal.MultimodalPipeline.deltaVerdicts(advanced, resubmit)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v2 == Map(50L -> false), v2.toString)
  }

  test("deltaVerdicts/advanceIndex band-source-generic: audio and video legs == batch closure") {
    import graft.multimodal.{Multimodal, MultimodalPipeline}
    import org.apache.spark.sql.DataFrame
    // q192 runs the machinery on image bands only; these legs run the SAME
    // functions on the REAL audio (Haitsma–Kalker energy-delta) and video
    // (temporal luma-delta) band tables. Per modality: standing = the even
    // halves of 4 twin pairs; delta = the odd twins (hamming ≤ 1 to a
    // standing asset — exact class or near pair, dropped either way) + 4
    // fresh organics (far fingerprints — kept). Pins three identities:
    // (a) the expected verdicts; (b) chained ingest == batch closure —
    // deltaVerdicts against an EMPTY index over the UNION is the
    // from-scratch keep-one, and its restriction to delta ids must equal
    // the incremental answer; (c) advanceIndex == batch-built union index.
    val legs: Seq[(String, DataFrame => DataFrame, DataFrame, DataFrame, Long, Long)] = Seq(
      ("audio", (a: DataFrame) => Multimodal.audioFingerprintBands(spark, a),
        Multimodal.synthTwinAudio(spark, nPairs = 4, base = 1000L),
        Multimodal.synthNoiseAudio(spark, spark.range(2000L, 2004L).toDF("doc_id")),
        1000L, 2000L),
      ("video", (a: DataFrame) => Multimodal.videoFingerprintBands(spark, a),
        Multimodal.synthTwinVideo(spark, nPairs = 4, base = 3000L),
        Multimodal.synthVideo(spark, spark.range(4000L, 4004L).toDF("doc_id")),
        3000L, 4000L))
    val bk = Seq("b0", "b1", "b2", "b3")
    for ((name, bands, twins, organics, twinBase, orgBase) <- legs) {
      val standingAssets = twins.filter(col("doc_id") % 2 === 0)
      val deltaAssets = twins.filter(col("doc_id") % 2 === 1).unionByName(organics)
      val idx = bands(standingAssets).groupBy(bk.map(col): _*)
        .agg(min(col("doc_id")).as("rep"))
      val got = MultimodalPipeline.deltaVerdicts(idx, bands(deltaAssets))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val want = (0 until 4).map(i => (twinBase + 2 * i + 1) -> false).toMap ++
        (0 until 4).map(i => (orgBase + i) -> true).toMap
      assert(got == want, s"$name verdicts: $got")
      val unionBands = bands(standingAssets.unionByName(deltaAssets))
      val closure = MultimodalPipeline.deltaVerdicts(idx.limit(0), unionBands)
        .filter(col("doc_id") % 2 === 1 || col("doc_id") >= orgBase)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(closure == got, s"$name chained != batch closure: $closure vs $got")
      def asMap(df: DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getLong(4)).toMap
      val chainedIdx = MultimodalPipeline.advanceIndex(idx, bands(deltaAssets))
      val batchIdx = MultimodalPipeline.advanceIndex(idx.limit(0),
        unionBands)
      assert(asMap(chainedIdx) == asMap(batchIdx), s"$name index drift")
    }
  }

  test("RobotsTxt: group merging, agent specificity, longest-match with Allow tie-break") {
    import graft.text.RobotsTxt
    val txt = Seq(
      "# comment",
      "User-agent: A",          // multi-UA run: A and GraftBot share a group
      "User-agent: GraftBot",   // case-insensitive agent match
      "Disallow: /x/",
      "User-agent: *",
      "Disallow: /y/",
      "User-agent: graftbot",   // SECOND graftbot group — must MERGE
      "Allow: /x/pub",
      "Disallow: /z*q$",        // wildcard + end anchor
      "Allow: /t/",
      "Disallow: /t/",          // equal-spec tie — Allow must win
      "Allow:").mkString("\n")  // empty value: no rule
    val robots = Seq(("h1", txt), ("h2", "User-agent: *\nDisallow: /y/"))
      .toDF("host", "txt")
    val rules = RobotsTxt.agentRules(robots, "host", "txt", "graftbot")
    val r1 = rules.filter(col("host") === "h1").collect()
      .map(r => (r.getBoolean(1), r.getString(2))).toSet
    // named groups exist → * rules EXCLUDED; both graftbot groups merged
    assert(r1 == Set((false, "/x/"), (true, "/x/pub"), (false, "/z*q$"),
      (true, "/t/"), (false, "/t/")), r1.toString)
    val r2 = rules.filter(col("host") === "h2").collect()
      .map(r => (r.getBoolean(1), r.getString(2))).toSet
    assert(r2 == Set((false, "/y/")), r2.toString)
    val urls = Seq(("h1", "/x/a"), ("h1", "/x/pub1"), ("h1", "/zabcq"),
      ("h1", "/zabcq2"), ("h1", "/t/u"), ("h1", "/other"),
      ("h2", "/y/k"), ("h2", "/x/a"), ("h3", "/norules"))
      .toDF("host", "path")
    val got = RobotsTxt.adjudicate(urls, rules).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(got == Set(
      ("h1", "/x/a", false),     // Disallow /x/
      ("h1", "/x/pub1", true),   // Allow /x/pub beats /x/ on length
      ("h1", "/zabcq", false),   // wildcard + $ anchor match
      ("h1", "/zabcq2", true),   // $ anchor: q not last → no match
      ("h1", "/t/u", true),      // equal spec → Allow wins
      ("h1", "/other", true),    // no rule → allowed
      ("h2", "/y/k", false),     // * group applies (no named group)
      ("h2", "/x/a", true),      // h1's rules don't leak to h2
      ("h3", "/norules", true)), // host without robots → allowed
      got.toString)
  }

  test("RobotsTxt.crawlDelays: winning-group resolution, max, default, non-numeric") {
    import graft.text.RobotsTxt
    val robots = Seq(
      // named groups exist and publish delays → MAX of the named ones,
      // the * group's 9 ignored
      ("h1", "User-agent: GraftBot\nCrawl-delay: 3\nUser-agent: graftbot\nCrawl-delay: 5\nUser-agent: *\nCrawl-delay: 9"),
      // named group exists but publishes NO delay → default, never *'s
      ("h2", "User-agent: graftbot\nDisallow: /x/\nUser-agent: *\nCrawl-delay: 9"),
      // no named group → the * group's delay
      ("h3", "User-agent: *\nCrawl-delay: 4"),
      // non-numeric ignored → default
      ("h4", "User-agent: *\nCrawl-delay: soon"),
      // no delay anywhere → default
      ("h5", "User-agent: *\nDisallow: /y/"))
      .toDF("host", "txt")
    val got = RobotsTxt.crawlDelays(robots, "host", "txt", "graftbot",
        defaultDelay = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("h1" -> 5L, "h2" -> 1L, "h3" -> 4L, "h4" -> 1L,
      "h5" -> 1L), got.toString)
  }

  test("Sitemap: named-field extraction skips unknown fields; seeds drop visited") {
    import graft.text.Sitemap
    def canon(u: String): String = Seq(u).toDF("u")
      .select(graft.text.UrlNormalize.canonicalUrl(col("u"))).head.getString(0)
    val xml = "<?xml version=\"1.0\"?><urlset>" +
      "<url><loc>HTTP://A.example:80/p1</loc><lastmod>2026-01-01</lastmod>" +
      "<priority>0.5</priority></url>" +
      "<url><changefreq>daily</changefreq><loc>https://a.example/p2</loc></url>" +
      "</urlset>"
    val e = Sitemap.entries(Seq(("a.example", xml)).toDF("host", "xml"),
      "host", "xml")
    val got = e.collect()
      .map(r => (r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set(
      (canon("HTTP://A.example:80/p1"), Some("2026-01-01")),
      (canon("https://a.example/p2"), None)), got.toString)
    val visited = Seq(canon("https://a.example/p2")).toDF("canonical_url")
    val s2 = Sitemap.seeds(e, visited).collect()
      .map(r => (r.getString(1), Option(r.getString(2))))
    assert(s2.toSeq == Seq((canon("HTTP://A.example:80/p1"), Some("2026-01-01"))),
      s2.mkString(";"))
  }

  test("GopherRepetition.metrics: hand-computed micro-fractions on a tiny page") {
    // page: lines ["aa bb aa bb", "cc.", "cc.", "cc."]
    //   dup_line_u     = (4-2)*1e6 DIV 4 = 500000
    //   lchars = 23-3 = 20; dup line chars beyond first = 2*3 = 6 → 300000
    //   tokens [aa,bb,aa,bb,cc.,cc.,cc.], wchars = 17
    //   top2 = max(2*4 "aa bb", 2*6 "cc. cc.") = 12 → 705882
    //   top3 = all count-1 → densest "cc. cc. cc." charlen 9 → 529411
    //   top4 = densest "bb cc. cc. cc." charlen 11 → 647058
    //   5-grams all distinct → dup5 = 0; <10 tokens → dup10 = 0
    //   keep = false (dup_line_u 0.50 > 0.30)
    val df = Seq((1L, "aa bb aa bb\ncc.\ncc.\ncc.")).toDF("doc_id", "page")
    val r = graft.text.GopherRepetition.metrics(df, "page", "doc_id")
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
      r.getBoolean(9)) ==
      (4L, 500000L, 300000L, 705882L, 529411L, 647058L, 0L, 0L, false),
      r.toString)
  }

  test("Mojibake.fix: single and double mis-decodes invert exactly; refusal edges hold") {
    import graft.text.Mojibake
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    val orig = "café € naïve"
    def misdecode(s: String) = new String(s.getBytes(UTF_8), ISO_8859_1)
    // one layer peels in one step, two layers in two; both land on orig
    assert(Mojibake.fix(misdecode(orig)) == (orig, 1))
    assert(Mojibake.fix(misdecode(misdecode(orig))) == (orig, 2))
    // refusals: pure ASCII untouched; already-clean text untouched (é's
    // byte E9 followed by a space is invalid UTF-8, so the validator
    // refuses even though € now re-encodes via the cp1252 block); a lone
    // high char whose byte image is invalid UTF-8 (C3 20) is genuine
    // Latin-1 and stays; CJK text has no byte image at all and refuses
    assert(Mojibake.fix("plain ascii") == ("plain ascii", 0))
    assert(Mojibake.fix(orig) == (orig, 0))
    assert(Mojibake.fix("cafÃ x") == ("cafÃ x", 0))
    assert(Mojibake.fix("中文 text") == ("中文 text", 0))
    // the bound is a guard, not a truncation: a triple mis-decode peels
    // three layers and stops AT the original
    assert(Mojibake.fix(misdecode(misdecode(misdecode(orig)))) == (orig, 3))
    // the cp1252 block: bytes 0x80–0x9F decode to codepoints ABOVE
    // U+00FF ("â€™" for ’ — the single most common real-world mojibake),
    // which the pure Latin-1 inverse could never re-encode
    def misdecode1252(s: String) =
      new String(s.getBytes(UTF_8), java.nio.charset.Charset.forName("windows-1252"))
    // every byte of BOTH mis-decode layers lands on a cp1252-defined
    // byte (an em-dash would pass layer 1 but its image "”" hits the
    // undefined 0x9D in layer 2 — the WHATWG asserts below cover that)
    val curly = "it’s “fine café™"
    assert(misdecode1252(curly).contains("â€™")) // the signature artifact
    assert(Mojibake.fix(misdecode1252(curly)) == (curly, 1))
    assert(Mojibake.fix(misdecode1252(misdecode1252(curly))) == (curly, 2))
    // WHATWG decoders pass cp1252's five UNDEFINED bytes through as C1
    // controls (Java's strict decoder destroys them to U+FFFD instead) —
    // ” is E2 80 9D, so its web mojibake is "â€" + U+009D, which the
    // identity (<0x100) branch re-encodes; a destroyed U+FFFD refuses
    assert(Mojibake.fix("\u00e2\u20ac\u009d") == ("”", 1))
    assert(Mojibake.fix("\u00e2\u20ac\ufffd") == ("\u00e2\u20ac\ufffd", 0))
  }

  test("CharsetSniff.validUtf8 pins the RFC 3629 edges; decode dispatches BOMs") {
    import graft.text.CharsetSniff.{validUtf8, decode}
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // accepts: ASCII, 2/3/4-byte minima and maxima, U+D7FF, U+10FFFF
    for (ok <- Seq(b(0x41), b(0xC2, 0x80), b(0xDF, 0xBF), b(0xE0, 0xA0, 0x80),
        b(0xED, 0x9F, 0xBF), b(0xEF, 0xBF, 0xBF), b(0xF0, 0x90, 0x80, 0x80),
        b(0xF4, 0x8F, 0xBF, 0xBF), Array.emptyByteArray))
      assert(validUtf8(ok), ok.map(x => f"${x & 0xFF}%02X").mkString(" "))
    // rejects: overlongs (C0/C1, E0 80, F0 80), surrogates (ED A0),
    // beyond U+10FFFF (F4 90, F5..FF leads), stray continuation,
    // truncated tails
    for (bad <- Seq(b(0xC0, 0x80), b(0xC1, 0xBF), b(0xE0, 0x80, 0x80),
        b(0xED, 0xA0, 0x80), b(0xF0, 0x80, 0x80, 0x80), b(0xF4, 0x90, 0x80, 0x80),
        b(0xF5, 0x80, 0x80, 0x80), b(0x80), b(0xC3), b(0xE2, 0x82),
        b(0xF0, 0x90, 0x80), b(0x41, 0xFF)))
      assert(!validUtf8(bad), bad.map(x => f"${x & 0xFF}%02X").mkString(" "))
    // BOM dispatch + strip; latin-1 fallback decodes every byte
    assert(decode(b(0xEF, 0xBB, 0xBF, 0x68, 0x69)) == ("utf-8", "hi"))
    assert(decode(b(0xFF, 0xFE, 0x68, 0x00, 0x69, 0x00)) == ("utf-16le", "hi"))
    assert(decode(b(0xFE, 0xFF, 0x00, 0x68, 0x00, 0x69)) == ("utf-16be", "hi"))
    assert(decode("hé".getBytes("UTF-8")) == ("utf-8", "hé"))
    assert(decode(b(0x68, 0xFF)) == ("latin-1", "hÿ"))
  }

  test("Sampling.neymanSample: variance-weighted allocation; zero-variance stratum gets 0") {
    // 'big': 100 constant rows (sigma = 0); 'small': 5 zeros + 5 at 1e6
    // micro-units — N*Q - S^2 = 10*5e12 - (5e6)^2 = 2.5e13 = (5e6)^2 exactly
    val rows = (0 until 100).map(i => ("big", i.toLong, 50L)) ++
      (0 until 10).map(i => ("small", 1000L + i, if (i % 2 == 0) 0L else 1000000L))
    val df = rows.toDF("g", "id", "m")
    import org.apache.spark.sql.functions.{col, lit}
    val got = graft.ops.Sampling.neymanSample(df, "g", "id", col("m"), lit(20L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // w_big = max(1, 0) = 1; w_small = 5e6; sw = 5000001
    // t_small = min(10, 20*5e6 div 5000001) = 10 (all); t_big = 0
    assert(got.forall(_._1 == "small") && got.length == 10, got.mkString(";"))
    assert(got.forall(r => r._3 == 10L && r._4 == 10L))
  }

  test("PageRank.runWeighted: weight-proportional distribution; guards non-positive weights") {
    // hub 1 points at 2 (w=9) and 3 (w=1); back-edges make it recurrent
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val got = graft.ops.PageRank.runWeighted(e, nIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver reference: r1 = tele + 85% of weighted shares of r0 = 1e6
    // node2 r1: 150000 + 85*(1e6*9 div 10)/100 = 150000 + 765000
    // node2 r2: 150000 + 85*((r1(1)*9) div 10) div 100
    val r1 = Map(
      1L -> (150000L + 85L * (1000000L + 1000000L) / 100L), // from 2 and 3 (w=1/1)
      2L -> (150000L + 85L * (1000000L * 9L / 10L) / 100L),
      3L -> (150000L + 85L * (1000000L * 1L / 10L) / 100L))
    val r2 = Map(
      1L -> (150000L + 85L * (r1(2L) + r1(3L)) / 100L),
      2L -> (150000L + 85L * (r1(1L) * 9L / 10L) / 100L),
      3L -> (150000L + 85L * (r1(1L) * 1L / 10L) / 100L))
    assert(got == r2, s"got=$got want=$r2")
    // the 9:1 asymmetry is visible (uniform PageRank would tie 2 and 3)
    assert(got(2L) > got(3L))
    val bad = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      graft.ops.PageRank.runWeighted(bad, nIters = 1)
    }
  }

  test("BandJoin: randomized cross-check vs the quadratic definition; boundary pairs") {
    // deterministic pseudo-random values (md5-derived, no RNG state)
    def v(i: Int): Double = {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"bj:$i".getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
      (h % 10000L) / 100.0 // [0, 100) with 2 decimals
    }
    val rows = (0 until 200).map(i => (i.toLong, s"g${i % 3}", v(i)))
    val df = rows.toDF("id", "grp", "v")
    val eps = 0.75
    val got = graft.ops.BandJoin.pairs(df, "id", "grp", "v", eps)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      a <- rows; b <- rows
      if a._2 == b._2 && a._1 < b._1 && math.abs(a._3 - b._3) <= eps
    } yield (a._1, b._1)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // exact-boundary pair (diff == eps) is IN; just-over is OUT
    val edge = Seq((1L, "e", 1.0), (2L, "e", 1.75), (3L, "e", 2.5001))
      .toDF("id", "grp", "v")
    val ep = graft.ops.BandJoin.pairs(edge, "id", "grp", "v", eps)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // 1.75 − 1.0 = 0.75 == eps (binary-exact) is IN;
    // 2.5001 − 1.75 = 0.7501 > eps is OUT
    assert(ep == Set((1L, 2L)), ep.toString)
  }

  test("Profile.fkAudit: empty child, clean child, all-orphans, null keys") {
    val parent = Seq(Tuple1(1L), Tuple1(2L)).toDF("pk")
    val empty = Seq.empty[(Long, Long)].toDF("id", "fk")
    // row: (fk, n_child, n_null_keys, n_orphans, min_key, max_key)
    val e = graft.ops.Profile.fkAudit(empty, "fk", parent, "pk", "e").collect()(0)
    assert((e.getLong(1), e.getLong(2), e.getLong(3)) == ((0L, 0L, 0L)) && e.isNullAt(4))
    val clean = Seq((10L, 1L), (11L, 2L)).toDF("id", "fk")
    val c = graft.ops.Profile.fkAudit(clean, "fk", parent, "pk", "c").collect()(0)
    assert((c.getLong(1), c.getLong(2), c.getLong(3)) == ((2L, 0L, 0L)) && c.isNullAt(4))
    val orphan = Seq((10L, 7L), (11L, 8L)).toDF("id", "fk")
    val o = graft.ops.Profile.fkAudit(orphan, "fk", parent, "pk", "o").collect()(0)
    assert((o.getLong(1), o.getLong(2), o.getLong(3), o.getLong(4), o.getLong(5)) ==
      ((2L, 0L, 2L, 7L, 8L)))
    // a NULL child key is "no reference", not an orphan — it lands in
    // n_null_keys and never inflates n_orphans (NOT IN symmetry)
    val withNull = Seq((10L, Some(1L)), (11L, None), (12L, Some(9L)))
      .toDF("id", "fk")
    val n = graft.ops.Profile.fkAudit(withNull, "fk", parent, "pk", "n").collect()(0)
    assert((n.getLong(1), n.getLong(2), n.getLong(3), n.getLong(4), n.getLong(5)) ==
      ((3L, 1L, 1L, 9L, 9L)))
  }

  test("Sampling.corpusShuffle: per-shard positions are a 1..n permutation; seeded and stable") {
    import org.apache.spark.sql.functions.col
    val df = (0L until 200L).map(Tuple1(_)).toDF("id")
    val a = graft.ops.Sampling.corpusShuffle(df, "id", seed = "s1", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.length == 200)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // same seed -> identical assignment; different seed -> a different order
    val a2 = graft.ops.Sampling.corpusShuffle(df, "id", seed = "s1", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sorted.toSeq == a2.sorted.toSeq)
    val b = graft.ops.Sampling.corpusShuffle(df, "id", seed = "s2", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sorted.toSeq != b.sorted.toSeq)
  }

  test("TrainingPrep.splitByCluster: pair members never straddle splits; singletons split solo") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 50L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2-3 plus pair 10-11: one cluster of 3, one of 2, 45 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = graft.ops.TrainingPrep.splitByCluster(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got.length == 50)
    val bySplit = got.map(t => t._1 -> t._3).toMap
    assert(Set(bySplit(1L), bySplit(2L), bySplit(3L)).size == 1)
    assert(bySplit(10L) == bySplit(11L))
    val byCluster = got.map(t => t._1 -> t._2).toMap
    assert(byCluster(3L) == 1L && byCluster(11L) == 10L && byCluster(42L) == 42L)
    // every split label valid
    assert(got.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("dsirWeightsAgainst: unseen buckets fall back to the smoothing-only ratio, never drop") {
    import org.apache.spark.sql.functions.{col, lit}
    // histogram fit on a DIFFERENT corpus (the advertised release-time
    // use): a doc whose every bigram hashes to a bucket the histogram
    // never saw must still score — n_feats intact, each occurrence at
    // the smoothing-only default lr0 (both counts 0 under +1 smoothing)
    val seed = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val hist = graft.ops.TrainingPrep.dsirCounts(
      seed, "text", "doc_id", isTarget = col("doc_id") === 1L)
    val (rtot, ttot) = (4.0, 2.0) // 2 bigrams/doc; doc 1 is the target
    val fresh = Seq((9L, "wholly novel vocabulary appears here"))
      .toDF("doc_id", "text") // 4 bigrams, none in the seed
    val got = graft.ops.TrainingPrep.dsirWeightsAgainst(
      fresh, "text", "doc_id", isTarget = lit(false), hist)
      .collect()
    assert(got.length == 1, "the all-unseen doc must not vanish")
    val lr0 = math.floor((math.log(1.0 / (ttot + 1024.0))
      - math.log(1.0 / (rtot + 1024.0))) * 1e6).toLong
    assert(got(0).getInt(1) == 4 && got(0).getLong(2) == 4 * lr0,
      s"got n_feats=${got(0).getInt(1)} w_u=${got(0).getLong(2)} want 4×$lr0")
  }

  test("langidClassify: held-out docs classify to their true language; confusables refuse") {
    import org.apache.spark.sql.functions.col
    // the q229 fixture shape in miniature: shared filler + a doubled
    // language marker; %3==0 docs are held out of the fit, and one
    // held-out doc carries a cross-language fragment (the confusable)
    val marker = Map("en" -> " the quick would with many",
      "fr" -> " le chat serait avec beaucoup")
    val docs = (0L until 40L).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      val confus = if (i == 6) " le chat" else ""
      (i, lang, s"shared filler words number $i" + marker(lang) * 2 + confus)
    }.toDF("doc_id", "lang", "page")
    val got = graft.ops.TrainingPrep.langidClassify(
        docs, "page", "doc_id", "lang", isSeed = col("doc_id") % 3 =!= 0)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == 40)
    (0L until 40L).foreach { i =>
      val want = if (i % 2 == 0) "en" else "fr"
      assert(got(i) == want, s"doc $i: got ${got(i)}, want $want")
    }
  }

  test("Profile.drift: added/removed columns, null-ppm drift, range flags") {
    val a = Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "s", "v")
    val b = Seq((1L, Some("x"), 1), (2L, None, 2), (3L, Some("z"), 3))
      .toDF("id", "s", "extra")
    val got = graft.ops.Profile.drift(a, b).collect()
      .map(r => r.getString(0) -> r).toMap
    // v only in A -> removed, range_same NULL; extra only in B -> added
    assert(got("v").getString(1) == "removed" && got("v").isNullAt(8))
    assert(got("extra").getString(1) == "added")
    // s: B has 1 null of 3 rows -> 333333 ppm (truncating), range drifts
    val srow = got("s")
    assert(srow.getString(1) == "ok" && srow.getLong(5) == 333333L
      && srow.getBoolean(8) == false, srow.toString)
    // id: ranges differ (max 2 vs 3)
    assert(got("id").getBoolean(8) == false)
  }

  test("TimeSeries.acf: exact lag correlations vs driver reference; short series NULL-safe") {
    // period-2 alternating series: r_1 = -1, r_2 = +1 exactly
    val alt = (0 until 10).map(t => ("a", t.toLong, if (t % 2 == 0) 10L else 20L))
    // linear ramp: every lag correlates perfectly (+1)
    val ramp = (0 until 10).map(t => ("b", t.toLong, 5L + 3L * t))
    // 3-point series: lag 3 has no pairs -> no row
    val tiny = (0 until 3).map(t => ("c", t.toLong, t.toLong))
    val df = (alt ++ ramp ++ tiny).toDF("g", "t", "y")
    val got = graft.ops.TimeSeries.acf(df, "g", "t", "y", maxLag = 3)
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(("a", 1)) == ((9L, -1000000L)))
    assert(got(("a", 2)) == ((8L, 1000000L)))
    assert(got(("a", 3)) == ((7L, -1000000L)))
    assert(got(("b", 1)) == ((9L, 1000000L)) && got(("b", 2)) == ((8L, 1000000L)))
    // 3-point series: lag 1 has 2 perfectly-correlated pairs; lag 2 has one
    // pair (degenerate margin -> dropped, never NaN); lag 3 has no pairs
    assert(got(("c", 1)) == ((2L, 1000000L)))
    assert(!got.contains(("c", 2)) && !got.contains(("c", 3)))
  }

  test("TimeSeries.cusum: noise-free level shift locates the boundary; ties take earliest t") {
    // 6 days at 10 then 6 days at 20: |S'| peaks at the LAST pre-shift day
    val shift = (0 until 12).map(t => ("s", t.toLong, if (t < 6) 10L else 20L))
    // constant series: S' == 0 everywhere -> earliest t wins the tie
    val const = (0 until 5).map(t => ("k", t.toLong, 7L))
    val got = graft.ops.TimeSeries.cusum((shift ++ const).toDF("g", "t", "y"), "g", "t", "y")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDecimal(3).longValueExact()))).toMap
    // n=12, T=180; at t=5 (idx 6): S' = 12*60 - 6*180 = -360, the extreme
    assert(got("s") == ((12L, 5L, -360L)))
    assert(got("k") == ((5L, 0L, 0L)))
  }
}
