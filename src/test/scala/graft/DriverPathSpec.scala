package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetFooterSchema

import graft.catalog.Catalog
import graft.ops.{QueryProfile, Reports}
import graft.sources.Tables

/** The driver-sized steps of an interactive session — a table load, the
  * catalog's schema-sized results, a report's chart rows — give exactly
  * what Spark's own path gives, and launch no Spark job of their own. The
  * job counts are pinned, so a reintroduced metadata job fails here. */
class DriverPathSpec extends SparkSpec {
  import spark.implicits._

  private def jobs[A](body: => A): (A, Int) = {
    val (out, p) = QueryProfile.of(spark)(body)
    (out, p.jobs)
  }

  /** What `Tables.load` gave when Spark inferred the schema itself. */
  private def sparkLoad(dir: String, name: String): DataFrame =
    Tables.normalize(spark.read.parquet(Tables.path(dir, name)), name)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertSameAsSpark(dir: String, name: String): Unit = {
    assert(ParquetFooterSchema(spark, Tables.path(dir, name)).isDefined, s"$dir/$name fell back to Spark")
    val (loaded, n) = jobs(Tables.load(spark, dir, name))
    assert(n == 0, s"loading $dir/$name launched $n Spark jobs")
    assert(loaded.schema == sparkLoad(dir, name).schema, s"$dir/$name")
  }

  test("Tables.load: every test table's schema equals Spark's inference, both timestamp settings") {
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    for (dir <- Seq(sfDir, sf001); ntz <- Seq("false", "true"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
        Tables.names.foreach(assertSameAsSpark(dir, _))
      }
    for (n <- Tables.names)
      assert(Tables.load(spark, sfDir, n).collect().toSeq == sparkLoad(sfDir, n).collect().toSeq, n)
  }

  test("Tables.load: nanosecond timestamps (the other writer flavour) match Spark's inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(Tables.path(dir, "events")))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1 -> 1700000000123456789L, 2 -> 1700000001999999999L).foreach { case (id, ns) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()
    assertSameAsSpark(dir, "events")
    val ts = Tables.load(spark, dir, "events").orderBy("event_id").collect().map(_.getTimestamp(1))
    assert(ts.map(_.toInstant.toString).toSeq ==
      Seq("2023-11-14T22:13:20.123456Z", "2023-11-14T22:13:21.999999Z"))
  }

  test("Tables.load: Spark-written, partitioned, drifting and summary-file directories match Spark") {
    val dir = tmp("tables_dirs")
    val df = (1 to 30).map(i => (i.toLong, s"r${i % 3}", BigDecimal(i) / 4, java.sql.Date.valueOf("2024-01-01")))
      .toDF("id", "region", "amount", "day")
    // a Spark-written directory: _SUCCESS, several part files, plus hidden
    // litter that would fail the read if it were taken for the footer
    df.repartition(3).write.parquet(Tables.path(dir, "flat"))
    assert(Files.exists(Paths.get(Tables.path(dir, "flat"), "_SUCCESS")))
    Seq(".litter", "_litter", "a._COPYING_").foreach(f =>
      Files.write(Paths.get(Tables.path(dir, "flat"), f), "not parquet".getBytes))
    // partitioned: the partition column comes from the path, appended last
    df.write.partitionBy("region").parquet(Tables.path(dir, "parted"))
    // drift: without mergeSchema the first data file in path order decides
    df.write.parquet(Tables.path(dir, "drift"))
    df.select("id").write.mode("append").parquet(Tables.path(dir, "drift"))
    // summary files take precedence over data files: _common_metadata, then _metadata
    df.write.parquet(Tables.path(dir, "summary"))
    def part(table: String) = Files.walk(Paths.get(Tables.path(dir, table))).iterator.asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(part("drift"), Paths.get(Tables.path(dir, "summary"), "_metadata"))
    Files.copy(part("parted"), Paths.get(Tables.path(dir, "summary"), "_common_metadata"))

    Seq("flat", "parted", "drift", "summary").foreach(assertSameAsSpark(dir, _))
    assert(Tables.load(spark, dir, "parted").columns.last == "region")
    assert(!Tables.load(spark, dir, "summary").columns.contains("region"))
    assert(Tables.load(spark, dir, "flat").count() == 30)

    // schema merging asked for by the session: Spark's own (merging) inference runs
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(ParquetFooterSchema(spark, Tables.path(dir, "drift")).isEmpty)
      val merged = Tables.load(spark, dir, "drift")
      assert(merged.schema == sparkLoad(dir, "drift").schema && merged.columns.length == 4)
    }
  }

  test("Tables.load: a streaming sink's directory is read through its metadata log, as Spark does") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("tables_sink")
    val src = s"$dir/src"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(src)
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("parquet").option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start(Tables.path(dir, "sink")).awaitTermination()
    // a file the log does not list, first in path order: Spark never reads it
    Seq(1.5).toDF("other").coalesce(1).write.parquet(s"$dir/stray")
    val stray = Files.list(Paths.get(s"$dir/stray")).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    Files.copy(stray, Paths.get(Tables.path(dir, "sink"), "a-stray.parquet"))
    assert(ParquetFooterSchema(spark, Tables.path(dir, "sink")).isEmpty)
    val sink = Tables.load(spark, dir, "sink")
    assert(sink.schema == sparkLoad(dir, "sink").schema && sink.columns.toSeq == Seq("id", "s"))
    assert(sink.count() == 2)
  }

  test("Tables.load: a missing table still fails with Spark's PATH_NOT_FOUND") {
    val dir = tmp("tables_missing")
    val e = intercept[AnalysisException](Tables.load(spark, dir, "orders"))
    assert(e.getCondition == "PATH_NOT_FOUND")
    Seq((1, "x")).toDF("r_regionkey", "r_name").write.parquet(Tables.path(dir, "region"))
    Tables.registerAll(spark, dir) // absent tables are skipped, present ones registered
    assert(spark.table("region").count() == 1)
  }

  test("tableDesign and analyzeTable order rows as Spark's orderBy(column_name) does") {
    // mixed case, non-ASCII, and a supplementary-plane name: UTF-8 byte
    // order puts U+FB00 before U+1D4B3, UTF-16 order the other way round
    val names = Seq("b", "Ba", "a", "_x", "Z", "a0", "é", "ä", "ﬀ", "𝒳", "A1")
    val df = spark.range(3).select(names.zipWithIndex.map { case (n, i) => (col("id") + i).as(n) }: _*)
    val design = Catalog.tableDesign(spark, df)
    val order = design.collect().map(_.getString(0)).toSeq
    assert(order == design.orderBy("column_name").collect().map(_.getString(0)).toSeq)
    assert(order != names.sorted, "the names do not tell byte order from String order")
    val prof = Catalog.analyzeTable(df)
    assert(prof.collect().toSeq == prof.orderBy("column_name").collect().toSeq)
  }

  /** Every CSV file a write left in `dir`, concatenated in name order. */
  private def csvText(dir: String): String =
    Files.list(Paths.get(dir)).iterator.asScala.filter(_.toString.endsWith(".csv")).toSeq.sorted
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString

  private def manifest(dir: String) = new String(Files.readAllBytes(Paths.get(dir, "manifest.json")), "UTF-8")

  test("exportReport: the unclipped CSV is Spark's own write of the chart; a clipped one keeps every group") {
    // labels that need CSV quoting, a null label, dates and exact decimals
    val chart = Seq(("a,b", "2024-01-02", BigDecimal("1.50")), ("say \"hi\"", "2024-02-03", BigDecimal("-2.25")),
      (null, "2024-03-04", BigDecimal("0.00")))
      .toDF("label", "day", "v").select($"label", $"v".cast("decimal(12,2)"), $"day".cast("date"))
    val out = tmp("report")
    Reports.exportReport(chart, chart, out)
    chart.coalesce(1).write.option("header", "true").csv(s"$out/expected")
    assert(csvText(s"$out/chart_data") == csvText(s"$out/expected"))
    assert(manifest(out).contains("\"chart_rows\": 3, \"chart_clipped\": false"))

    val df = (1 to 40).map(i => (s"g${i % 7}", i.toDouble)).toDF("x", "y")
    val clipped = tmp("report_clipped")
    Reports.exportReport(Reports.groupSum(df, "x", "y"), df, clipped, maxChartRows = 3)
    val lines = csvText(s"$clipped/chart_data").linesIterator.toSeq
    assert(lines.head == "x,sum_y" && lines.tail.map(_.takeWhile(_ != ',')) == (0 to 6).map(i => s"g$i"))
    assert(manifest(clipped).contains("\"chart_rows\": 3, \"chart_clipped\": true"))
  }

  test("job budget: loads, catalog results and an unclipped report's chart") {
    val (orders, loadJobs) = jobs(Tables.load(spark, sfDir, "orders"))
    assert(loadJobs == 0)
    assert(jobs(Catalog.tableDesign(spark, orders).collect())._2 == 0)
    // analyzeTable runs its one aggregate eagerly; the result is local
    val aggJobs = jobs(orders.agg(count(lit(1))).head())._2
    val (prof, analyzeJobs) = jobs(Catalog.analyzeTable(orders))
    assert(analyzeJobs == aggJobs)
    assert(jobs(prof.collect())._2 == 0)
    // the chart's aggregation runs once: collect it, then the CSV from the
    // collected rows, then the full result — 3 jobs fewer than the 7 it
    // took when the CSV re-ran the aggregation (and its range sort)
    val chart = Reports.groupSum(orders, "o_orderstatus", "o_totalprice")
    assert(jobs(Reports.exportReport(chart, orders, tmp("report_jobs")))._2 == 4)
  }
}
