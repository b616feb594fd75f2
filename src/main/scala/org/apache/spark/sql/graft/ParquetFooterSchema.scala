package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The data schema `spark.read.parquet(path)` infers, read on the driver.
  *
  * Without `mergeSchema`, Spark's inference touches exactly one footer —
  * `_common_metadata`, else `_metadata`, else the first data file in path
  * order (`ParquetUtils.inferSchema`) — but reads it inside a one-task
  * Spark job (`SchemaMergeUtils.mergeSchemasInParallel`), which costs an
  * interactive table load far more than the footer itself. This reads the
  * same footer on the driver, after the same hidden-file rule
  * (`HadoopFSUtils.shouldFilterOutPathName`), and converts it with Spark's
  * own `readSchemaFromFooter` and session-configured converter.
  *
  * `None` means "let Spark infer": schema merging is on, the path is a
  * glob or does not exist (Spark raises its own PATH_NOT_FOUND), the root
  * is a hidden name or a streaming sink's directory (`_spark_metadata`),
  * no file is found, a data column shares its name with
  * a partition directory (where a user schema would change the partition
  * column's type), or the footer read fails (Spark reports the failure
  * its own way).
  */
object ParquetFooterSchema {

  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (state.conf.isParquetSchemaMergingEnabled || "{}[]*?\\".exists(path.contains(_))) return None
    val conf = state.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val root = fs.makeQualified(new Path(path))
    if (HadoopFSUtils.shouldFilterOutPathName(root.getName) || !fs.exists(root)) return None
    // a streaming sink's output: Spark lists the files its log names, not the directory
    if (fs.exists(new Path(root, "_spark_metadata"))) return None

    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val touch = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))

    touch.flatMap { f =>
      val schema = try {
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(state.conf)))
      } catch { case NonFatal(_) => None }
      val partitionCols = Iterator.iterate(f.getPath.getParent)(_.getParent)
        .takeWhile(d => d != null && d.depth > root.depth)
        .map(_.getName).filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase).toSet
      schema.filterNot(_.fieldNames.exists(n => partitionCols(n.toLowerCase)))
    }
  }
}
