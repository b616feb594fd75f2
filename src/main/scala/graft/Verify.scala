package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage: String =
    "usage: Verify <sfDir> <outDir> [queryPrefix ...]  (no prefix writes every query)"

  /** (sfDir, outDir, query-name prefixes) from the command line, or why
    * it is refused: a flag, fewer than two paths, or a prefix no query
    * name starts with. */
  def parseArgs(args: Seq[String]): Either[String, (String, String, Seq[String])] =
    args.find(_.startsWith("-")).map(flag => s"unknown option '$flag'")
      .orElse(Option.when(args.length < 2)(s"expected <sfDir> <outDir>, got ${args.length} argument(s)"))
      .orElse(SparkEntry.refusePrefixes(args.drop(2)))
      .toLeft((args(0), args(1), args.drop(2)))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args.toSeq) match {
      case Left(err) =>
        System.err.println(s"Verify: $err\n$Usage")
        sys.exit(2)
      case Right(parsed) => parsed
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Own this run's temp dirs (same discipline as Bench): point
    // java.io.tmpdir at a per-pid dir BEFORE the first createTempDirectory
    // loads TempFileHelper, so Spark driver dirs, the scratch warehouse,
    // and per-query graft_* dirs all land somewhere one sweep deletes —
    // instead of accumulating in /tmp across verify runs.
    val scratch = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-verify-local-${ProcessHandle.current().pid()}")
    Files.createDirectories(scratch)
    System.setProperty("java.io.tmpdir", scratch.toString)
    val spark = graft.GraftSession(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.startsWith) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(
      if (failed.isEmpty) s"[verify] all ${selected.size} queries written"
      else s"[verify] ${failed.size} of ${selected.size} queries failed: ${failed.mkString(" ")}")
    try {
      import scala.jdk.CollectionConverters._
      if (Files.exists(scratch))
        Files.walk(scratch).iterator().asScala.toSeq.reverse
          .foreach(f => try Files.deleteIfExists(f)
                        catch { case scala.util.control.NonFatal(_) => () })
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
