package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The answer-sized gate of the graph and dedup families, shared by
  * `Dedup.connectedComponents`, `Dedup.deltaComponents`,
  * `Dedup.minHashPairs` and the four [[PageRank]] entry points, and the
  * only reader of `graft.cc.driverEdgeCap`: the graph and dedup
  * families' answer-sized row cap (default 100k rows ≈ 1.6 MB of id
  * pairs, inside the broadcast build-side contract; clamped to
  * [0, Int.MaxValue - 1], the largest limit a probe can take).
  *
  * `df` is landed once — an eager [[Lineage.cut]] — and a
  * `limit(cap + 1)` probe reads the landed blocks in one task. At or
  * under the cap the probe's rows come back (Left) for the driver; over
  * it the landed frame does (Right), non-empty, and the distributed path
  * continues from it, so `df`'s plan runs once on either side of the
  * cap. With a reliable `checkpointDir` the caller asked for durable
  * artifacts, and with `driverSolvable = false` the caller has no driver
  * path for this input: either way the landed frame is returned
  * unprobed. The gate is a measured row count, never local mode, so a
  * corpus-scale input keeps the distributed shape.
  *
  * Each decision is one [[QueryLog]] note: `<op>.driverPath` with the
  * rows landed on the driver, or `<op>.distributed` with the rows the
  * probe read (cap + 1), -1 when nothing was probed. */
object AnswerSized {

  def collectIfUnder(op: String, df: DataFrame, checkpointDir: Option[String],
      driverSolvable: Boolean = true): Either[Array[Row], DataFrame] = {
    val landed = Lineage.cut(df, checkpointDir)
    if (checkpointDir.isDefined || !driverSolvable) {
      QueryLog.note(s"$op.distributed", -1L)
      return Right(landed)
    }
    val cap = this.cap(df.sparkSession)
    val probe = landed.coalesce(1).limit(cap.toInt + 1).collect()
    if (probe.length <= cap) {
      QueryLog.note(s"$op.driverPath", probe.length.toLong)
      Left(probe)
    } else {
      QueryLog.note(s"$op.distributed", probe.length.toLong)
      Right(landed)
    }
  }

  /** The row cap, for a driver path that bounds what it builds from
    * the landed rows by the same measure. */
  private[graft] def cap(spark: SparkSession): Long =
    spark.conf.get("graft.cc.driverEdgeCap", "100000").toLong.max(0L).min(Int.MaxValue - 1L)
}
