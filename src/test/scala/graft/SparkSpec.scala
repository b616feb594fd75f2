package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (parallelExecution is off). Rebuilt
  * if a suite (e.g. ExtensionsSpec) stopped the previous one. */
object TestSession {
  def spark: SparkSession =
    SparkSession.getDefaultSession.filter(!_.sparkContext.isStopped)
      .getOrElse(GraftSession("local[4]", cores = 4))
}

abstract class SparkSpec extends AnyFunSuite {
  // lazy val: stable identifier (needed for `import spark.implicits._`),
  // resolved at this suite's first test so a prior suite's stop() is safe
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The operator notes (op, rows) `body` leaves in the query log
    * ([[graft.ops.QueryLog]]), in the order they were noted. */
  def notes(body: => Any): Seq[(String, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("notes").toString
    val l = graft.ops.QueryLog.install(spark)
    val flushed = try { body; l.flush(spark, dir) } finally graft.ops.QueryLog.uninstall(spark, l)
    if (flushed == 0) Nil
    else spark.read.parquet(dir).filter("status = 'note'").select("op", "rows").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Runs `body` with session conf `key` set to `value`, then restores the
    * value set before (or unsets the key if there was none). */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
