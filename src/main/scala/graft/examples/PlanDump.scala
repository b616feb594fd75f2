package graft.examples

import graft.{GraftSession, SparkEntry}

/** Dump the formatted physical plan of selected queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * plans/rN/ (the judge reads those files instead of running Spark).
  *
  * Run: sbt "runMain graft.examples.PlanDump <outDir> <suffix> [queryName ...]"
  * writes <outDir>/<query>_<suffix>.txt for each named query (all queries
  * when none are named). SPARK_GRAFT_SF_DIR picks the data dir (plans are
  * data-size-independent up to AQE estimates; sf0.01 is fine).
  */
object PlanDump {
  val Usage: String =
    "usage: PlanDump <outDir> <suffix> [queryName ...]  (no name dumps every query; SPARK_GRAFT_SF_DIR picks the data)"

  /** (outDir, suffix, query names) from the command line, or why it is
    * refused: a flag (it would become a directory), fewer than two
    * arguments, or a name that is no query. */
  def parseArgs(args: Seq[String]): Either[String, (String, String, Seq[String])] =
    args.find(_.startsWith("-")).map(flag => s"unknown option '$flag'")
      .orElse(Option.when(args.length < 2)(s"expected <outDir> <suffix>, got ${args.length} argument(s)"))
      .orElse(args.drop(2).find(n => !SparkEntry.allDefs.exists(_.name == n)).map(n => s"no query named '$n'"))
      .toLeft((args(0), args(1), args.drop(2)))

  def main(args: Array[String]): Unit = {
    val (out, suffix, only) = parseArgs(args.toSeq) match {
      case Left(err) =>
        System.err.println(s"PlanDump: $err\n$Usage")
        sys.exit(2)
      case Right(parsed) => parsed
    }
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (only.nonEmpty) only else SparkEntry.allDefs.map(_.name)
    names.foreach { n =>
      val plan =
        try SparkEntry.queries(n)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(e) =>
          s"PLAN FAILED: ${e.getMessage}" }
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] $n -> ${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
