package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField, StringType, BooleanType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalog introspection: the reference's metadata surface
  * (SQL_DATA_INTEGRATION_TOOL.py:155-239 — `get_databases`, `get_tables`,
  * `get_table_design`, `get_table_columns`, `get_primary_keys`) over a
  * parquet-directory catalog. Schema comes from parquet footers (no data
  * scan); primary-key discovery — absent from parquet metadata — is a
  * distributed distinct-count probe, the scalable analog of
  * INFORMATION_SCHEMA.KEY_COLUMN_USAGE.
  */
object Catalog {

  /** "Databases on the server" (ref 155-170) = child directories that
    * contain at least one parquet dataset. */
  def listDatabases(spark: SparkSession, rootDir: String): Seq[String] = {
    val p = new Path(rootDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(d => fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet")))
      .map(_.getName)
      .sorted
  }

  /** "Tables in the selected database" = parquet datasets in the directory. */
  def listTables(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** Table design (ref 183-196): one row per column — name, type, nullable,
    * default. The reference's `get_table_columns` (ref 198-220) also returns
    * COLUMN_DEFAULT from INFORMATION_SCHEMA; parquet stores no column
    * defaults (a missing value is simply null), so the column is surfaced —
    * keeping the reference's row shape — and is always null for parquet
    * datasets. Sources with real defaults (a future JDBC catalog) populate
    * it. */
  def tableDesign(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.schema.fields.toSeq.map(f =>
      Row(f.name, f.dataType.simpleString, f.nullable,
        null.asInstanceOf[String]))
    val schema = StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("data_type", StringType, nullable = false),
      StructField("is_nullable", BooleanType, nullable = false),
      StructField("column_default", StringType, nullable = true)))
    byColumnName(spark, rows, schema)
  }

  /** Schema-sized rows as a local relation ordered by `column_name` (the
    * first field), sorted on the driver with the comparison Spark's
    * `orderBy("column_name")` uses — UTF8String's binary order, which
    * differs from `String.compareTo` once supplementary-plane characters
    * meet U+E000..U+FFFF. A local relation collects with no Spark job,
    * where a parallelized-and-sorted one costs three. */
  private def byColumnName(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    val sorted = rows.sortBy(r => UTF8String.fromString(r.getString(0)))(
      Ordering.fromLessThan(_.binaryCompare(_) < 0))
    spark.createDataFrame(sorted.asJava, schema)
  }

  /** ANALYZE TABLE: per-column profile — null count, HLL++ approximate
    * distinct count, min/max — in ONE aggregate pass over the table (all
    * columns' partial aggregates travel together; no per-column scans).
    * This is the stats collection feeding any cost-based optimizer and the
    * reference-style "profile this table" UI. min/max surface as strings so
    * every column type fits one result schema; approx_count_distinct keeps
    * the pass shuffle-light at corpus scale (rsd 5% default) where exact
    * per-column distincts would each be their own shuffle. Complex-typed
    * columns (array/struct/map/binary) profile null counts only. */
  def analyzeTable(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}
    val cols = df.schema.fields.toSeq
    def simple(f: StructField) = f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    }
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { f =>
      // backtick-quote: col("a.b") would parse the dot as struct-field
      // access; a column literally named "a.b" must resolve as itself
      val c = col(s"`${f.name.replace("`", "``")}`")
      Seq(count(when(c.isNull, 1)).as(s"__null_${f.name}")) ++ (if (simple(f)) Seq(
        approx_count_distinct(c).as(s"__d_${f.name}"),
        min(c).cast(StringType).as(s"__min_${f.name}"),
        max(c).cast(StringType).as(s"__max_${f.name}")) else Seq.empty)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("__n")
    val rows = cols.map { f =>
      Row(f.name, f.dataType.simpleString, n,
        r.getAs[Long](s"__null_${f.name}"),
        if (simple(f)) Long.box(r.getAs[Long](s"__d_${f.name}")) else null,
        if (simple(f)) r.getAs[String](s"__min_${f.name}") else null,
        if (simple(f)) r.getAs[String](s"__max_${f.name}") else null)
    }
    val schema = StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("data_type", StringType, nullable = false),
      StructField("n_rows", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("null_count", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("approx_distinct", org.apache.spark.sql.types.LongType, nullable = true),
      StructField("min_value", StringType, nullable = true),
      StructField("max_value", StringType, nullable = true)))
    byColumnName(df.sparkSession, rows, schema)
  }

  /** Primary-key candidates (ref 222-239): columns whose distinct count
    * equals the row count. One distributed aggregate pass over all candidate
    * columns at once (no per-column scans), planned by
    * [[graft.ops.Profile.distinctCounts]] so a warm call compiles no code. */
  def primaryKeyCandidates(df: DataFrame, candidates: Seq[String] = Seq.empty): Seq[String] = {
    val cols = if (candidates.nonEmpty) candidates else df.columns.toSeq
    val r = graft.ops.Profile.distinctCounts(df, cols, ranges = false).head()
    cols.indices.filter(j => r.getLong(j + 1) == r.getLong(0)).map(cols)
  }
}
