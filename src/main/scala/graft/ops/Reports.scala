package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Report-prep aggregations behind the reference's Dynamic Reports tab
  * (SQL_DATA_INTEGRATION_TOOL.py:1213-1294 `generate_dynamic_graph`):
  * bar/line need (x, numeric y); pie uses `groupby(x)[y].sum()` when x≠y and
  * `value_counts()` otherwise. The chart rendering itself is GUI concern;
  * what the engine owns is producing the (small) aggregated chart data from
  * an arbitrarily large result — a partial-aggregated groupBy, never a
  * driver-side pandas conversion of the full result set (ref 1229).
  */
object Reports {

  /** Pie/bar data: sum of `y` per `x` (ref 1262 `df.groupby(x)[y].sum()`).
    * Decimal-exact sum (deterministic under any partial-agg order), surfaced
    * as double. */
  def groupSum(df: DataFrame, x: String, y: String): DataFrame =
    df.groupBy(col(x))
      .agg(sum(col(y).cast("decimal(18,4)")).cast("double").as(s"sum_$y"))
      .orderBy(col(x))

  /** Pie fallback when x == y (ref 1264 `value_counts()`). */
  def valueCounts(df: DataFrame, x: String): DataFrame =
    df.groupBy(col(x).as("value")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value"))

  /** Line data: mean of y per x with count, ordered by x. */
  def groupAvg(df: DataFrame, x: String, y: String): DataFrame =
    df.groupBy(col(x))
      .agg(
        (sum(col(y).cast("decimal(18,4)")).cast("double") / count(lit(1))).as(s"avg_$y"),
        count(lit(1)).as("n"))
      .orderBy(col(x))

  /** The "Export Report" action (ref 1297-1357), rendering included:
    * persist chart data (CSV) + the full result table (JSON, distributed
    * write — no driver materialization) + the RENDERED chart as SVG
    * ([[ChartSvg]] — the zero-dependency stand-in for the reference's
    * matplotlib figure embedded in its PDF/PNG export) + a manifest tying
    * the pieces together. Only the already-aggregated chart rows (capped
    * at `maxChartRows` — past that no chart is readable anyway) ever
    * reach the driver. The chart aggregation runs once: an unclipped
    * chart's CSV is written from the rows already collected for the
    * rendering, and only a clipped chart re-runs it to write every group. */
  def exportReport(chartData: DataFrame, fullResult: DataFrame, outDir: String,
      chartType: String = "bar", title: String = "report",
      maxChartRows: Int = 500): Unit = {
    val spark = chartData.sparkSession
    val rows = chartData.limit(maxChartRows + 1).collect()
    val clipped = rows.size > maxChartRows
    val csvSource =
      if (clipped) chartData
      else {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.toList.asJava, chartData.schema)
      }
    csvSource.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$outDir/chart_data")
    fullResult.write.mode("overwrite").json(s"$outDir/result")
    val data = rows.take(maxChartRows).toSeq.map { r =>
      val label = Option(r.get(0)).map(_.toString).getOrElse("null")
      val v = r.get(1) match {
        case null                 => 0.0
        case n: java.lang.Number  => n.doubleValue()
        case other                => other.toString.toDouble
      }
      (label, v)
    }
    writeText(spark, s"$outDir/chart.svg", ChartSvg.render(chartType, data, title))
    writeBytes(spark, s"$outDir/chart.png", ChartRaster.render(chartType, data, title))
    writeBytes(spark, s"$outDir/chart.pdf", ChartPdf.render(chartType, data, title))
    writeText(spark, s"$outDir/manifest.json",
      s"""{"title": "${title.replace("\"", "\\\"")}", "chart_type": "$chartType",
         | "chart": "chart.svg", "chart_png": "chart.png", "chart_pdf": "chart.pdf",
         | "chart_data": "chart_data/", "result": "result/",
         | "chart_rows": ${data.size}, "chart_clipped": $clipped}
         |""".stripMargin)
  }

  /** Small driver-side artifacts (svg/manifest) through the Hadoop FS API,
    * so the export works against whatever DFS `outDir` lives on. */
  private def writeText(spark: org.apache.spark.sql.SparkSession,
      file: String, content: String): Unit =
    writeBytes(spark, file, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def writeBytes(spark: org.apache.spark.sql.SparkSession,
      file: String, content: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content)
    finally out.close()
  }
}
