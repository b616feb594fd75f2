package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graft.ParquetFooterSchema

/** Table access layer over a directory of parquet files (one per table).
  *
  * Plays the role of the reference's database/table selection surface
  * (SQL_DATA_INTEGRATION_TOOL.py:146-181 — `set_database`/`get_tables`)
  * re-expressed as a lakehouse-style directory catalog: a "database" is a
  * directory, a "table" is a parquet dataset inside it. Reads are plain
  * `spark.read.parquet` (with the schema read from the footer on the
  * driver — see [[load]]), so Catalyst gets full pushdown/pruning and, at
  * 100 TB, partition pruning on partitioned layouts for free.
  */
object Tables {
  /** Standard test-schema table names (TPC-H-ish + events/documents/embeddings). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** One table of `dir` as a DataFrame with normalised timestamps.
    *
    * The schema is read on the driver from the one footer Spark's own
    * inference would touch (`_common_metadata`, else `_metadata`, else the
    * first visible data file — single-file, flat and partitioned tables
    * alike) and handed to the reader, so a load launches no Spark job.
    * Spark's inference, with its one-task footer job, is kept when the
    * session sets `spark.sql.parquet.mergeSchema` and for the cases listed
    * on [[org.apache.spark.sql.graft.ParquetFooterSchema]]; a missing table
    * still fails with Spark's own PATH_NOT_FOUND. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val df = ParquetFooterSchema(spark, p)
      .fold(spark.read.parquet(p))(s => spark.read.schema(s).parquet(p))
    normalize(df, name)
  }

  private[graft] def normalize(df: DataFrame, name: String): DataFrame = {
    // Timestamp normalization: the generated tables have carried parquet
    // timestamps in two physical flavors across regenerations —
    //   * TIMESTAMP(NANOS), which Spark's vectorized reader rejects; with
    //     spark.sql.legacy.parquet.nanosAsLong=true (GraftSession sets it;
    //     session-construction-time, no per-read option) it reads as long
    //     and is truncated to micros here. Integer `div` — doubles can't
    //     hold 1e18.
    //   * TIMESTAMP(MICROS, isAdjustedToUTC=false): GraftSession reads it
    //     natively as TIMESTAMP via inferTimestampNTZ=false (scan-level, so
    //     timestamp comparison pushdown survives); the NTZ cast branch here
    //     is the fallback for a foreign session without that conf — a
    //     value-preserving cast under a UTC session.
    // Both rewrites keep every downstream operator and oracle comparison
    // physical-layout-independent.
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType.typeName match {
        case "long" if name == "events" && f.name == "ts" =>
          acc.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        case "timestamp_ntz" =>
          acc.withColumn(f.name, col(f.name).cast("timestamp"))
        case _ => acc
      }
    }
  }

  /** Load a table in any supported format (parquet/csv/json/orc). CSV gets
    * header+inferSchema to mirror a spreadsheet-style source; pass an
    * explicit schema at scale (inference scans the data twice). */
  def loadFormat(spark: SparkSession, path: String, format: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    var r = spark.read.format(format)
    schema.foreach(s => r = r.schema(s))
    if (format == "csv" && schema.isEmpty)
      r = r.option("header", "true").option("inferSchema", "true")
    else if (format == "csv") r = r.option("header", "true")
    r.load(path)
  }

  /** Register every table in `dir` as a temp view so `spark.sql` (the
    * reference's Execute Query tab) can address them by name. Only a
    * missing dataset is skipped (partial schemas are normal); any other
    * failure — corrupt footer, permission, bad conf — propagates, so a
    * typo'd directory fails here with the real cause instead of later
    * with a confusing "table not found". */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      try load(spark, dir, n).createOrReplaceTempView(n)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => () // table absent — skip
      }
    }
}
