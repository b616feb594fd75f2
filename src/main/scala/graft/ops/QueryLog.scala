package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One structured record per executed query action. */
case class QueryLogEvent(ts_ms: Long, op: String, status: String,
    rows: Long, wall_ms: Long, error: String)

/** Structured query-execution log — the native analog of the reference's
  * per-operation logging (SQL_DATA_INTEGRATION_TOOL.py:21-27 configures
  * `logging` and every tab records info/error lines per operation). On
  * Spark the equivalent observation point is a [[QueryExecutionListener]]:
  * one (ts, op, status, rows, wall_ms, error) row per DataFrame action,
  * success or failure.
  *
  * Events buffer in a lock-free queue (listener callbacks run on the
  * listener bus thread — they must never block on a Spark job) and land in
  * parquet only on [[flush]], whose own write is excluded by a re-entrancy
  * guard so the log never logs itself. At cluster scale the flush is one
  * executor-side append of a session's worth of slim rows — negligible next
  * to any query it describes.
  */
/** @param maxBuffer cap on buffered events between flushes: a long-lived
  *   session that never calls [[QueryLogListener.flush]] would otherwise
  *   grow the buffer without bound. Past the cap the OLDEST events drop
  *   (the recent past is what debugging wants) and [[QueryLogListener
  *   .dropped]] counts the loss, surfaced by flush as a `dropped_events`
  *   synthetic row so the gap is visible in the log itself. */
class QueryLogListener(maxBuffer: Int = QueryLog.DefaultMaxBuffer)
    extends QueryExecutionListener {
  require(maxBuffer > 0, "maxBuffer must be positive")
  private val buf = new ConcurrentLinkedQueue[QueryLogEvent]()
  private val nBuf = new java.util.concurrent.atomic.AtomicInteger(0)
  private val nDropped = new java.util.concurrent.atomic.AtomicLong(0L)
  private val flushing = new AtomicBoolean(false)

  private def offer(e: QueryLogEvent): Unit = {
    buf.add(e)
    if (nBuf.incrementAndGet() > maxBuffer) {
      // drop-oldest; poll may return null if a concurrent flush drained us
      if (buf.poll() != null) nDropped.incrementAndGet()
      nBuf.decrementAndGet()
    }
  }
  // dirs this log has flushed to: listener events are ASYNC, so a
  // time-window flag alone races (the flush's own write event can arrive
  // after the flag resets); a write INTO a log dir is self-logging by
  // definition, whenever its event lands
  private val selfDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def isSelfWrite(qe: QueryExecution): Boolean =
    !selfDirs.isEmpty && {
      val plan = try qe.logical.toString catch { case scala.util.control.NonFatal(_) => "" }
      selfDirs.stream().anyMatch(d => plan.contains(d))
    }

  /** Output rows of the action's final plan, -1 when the root exposes no
    * metric (e.g. commands). Reads through AQE to the runtime-final plan. */
  private def outputRows(qe: QueryExecution): Long =
    try {
      org.apache.spark.sql.graft.bridge.finalPlan(qe)
        .collectFirst { case p if p.metrics.contains("numOutputRows") =>
          p.metrics("numOutputRows").value }
        .getOrElse(-1L)
    } catch { case scala.util.control.NonFatal(_) => -1L }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (!flushing.get && !isSelfWrite(qe))
      offer(QueryLogEvent(System.currentTimeMillis(), funcName, "success",
        outputRows(qe), durationNs / 1000000L, null))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (!flushing.get && !isSelfWrite(qe))
      offer(QueryLogEvent(System.currentTimeMillis(), funcName, "error",
        -1L, -1L, String.valueOf(error.getMessage)))

  /** Operator-emitted structured note (status "note"): facts the
    * listener callbacks can't see — e.g. how many rounds an iterative
    * fixpoint actually ran before converging (`pagerank.roundsRun`).
    * Same buffer, same flush path, same drop-oldest cap. */
  def note(op: String, rows: Long): Unit =
    offer(QueryLogEvent(System.currentTimeMillis(), op, "note", rows, -1L, null))

  /** Number of buffered, unflushed events. */
  def pending: Int = buf.size()

  /** Events dropped (oldest-first) since the last flush. */
  def dropped: Long = nDropped.get()

  /** Drain the buffer and append it to the parquet log at `dir`. Returns
    * the number of events written. Safe to call repeatedly; concurrent
    * events arriving mid-flush stay buffered for the next one. If the cap
    * dropped events since the last flush, one synthetic `dropped_events`
    * row records how many. */
  def flush(spark: SparkSession, dir: String): Long = {
    val drained = Iterator.continually(buf.poll()).takeWhile(_ != null).toSeq
    nBuf.addAndGet(-drained.size)
    val lost = nDropped.getAndSet(0L)
    val rows = if (lost > 0)
      QueryLogEvent(System.currentTimeMillis(), "dropped_events", "warn",
        lost, -1L, s"$lost events dropped by maxBuffer=$maxBuffer") +: drained
    else drained
    if (rows.nonEmpty) {
      selfDirs.add(dir)
      flushing.set(true)
      try {
        import spark.implicits._
        rows.toDF().coalesce(1).write.mode("append").parquet(dir)
      } finally flushing.set(false)
    }
    rows.size.toLong
  }
}

object QueryLog {
  /** Generous-but-bounded default: slim rows, so even the cap is only a
    * few MB of driver heap. */
  val DefaultMaxBuffer = 100000

  /** Register a fresh listener on the session and return it (the handle is
    * needed for [[QueryLogListener.flush]] and for deregistration). */
  def install(spark: SparkSession, maxBuffer: Int = DefaultMaxBuffer): QueryLogListener = {
    val l = new QueryLogListener(maxBuffer)
    spark.listenerManager.register(l)
    active.add(l)
    l
  }

  def uninstall(spark: SparkSession, l: QueryLogListener): Unit = {
    spark.listenerManager.unregister(l)
    active.remove(l)
  }

  // installed listeners, so operators can emit notes without a handle
  private val active =
    java.util.concurrent.ConcurrentHashMap.newKeySet[QueryLogListener]()

  /** Broadcast an operator note to every installed listener (no-op when
    * none is installed — operators never need a listener handle). */
  def note(op: String, rows: Long): Unit =
    active.forEach(l => l.note(op, rows))
}
