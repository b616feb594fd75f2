package graft

import java.util.concurrent.SynchronousQueue

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.QueryProfile

/** A profile counts the jobs of its block and of the threads Spark starts
  * for it, and no others; its byte and time fields read what the block did. */
class QueryProfileSpec extends SparkSpec {
  import spark.implicits._

  private def profile[A](body: => A): QueryProfile.Profile = {
    val p = QueryProfile.of(spark)(body)._2
    assert(p.driverGapMs >= 0 && p.driverGapMs <= p.wallMs, p)
    p
  }

  private def narrow(): Unit = spark.range(1000).filter($"id" % 3 === 0).collect()

  test("a stream started inside the block counts its micro-batch jobs; one started before does not") {
    implicit val sqlCtx = spark.sqlContext
    def doubled(mem: MemoryStream[Int], name: String) =
      mem.toDF().select(($"value" * 2).as("twice")).writeStream.format("memory").queryName(name)
    val inside = MemoryStream[Int]
    inside.addData(1, 2, 3)
    var batches = 0
    val p = profile {
      val q = doubled(inside, "profiled_inside").start()
      try {
        q.processAllAvailable()
        inside.addData(4, 5)
        q.processAllAvailable()
        batches = q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    assert(batches == 2 && p.jobs >= batches && p.tasks > 0, p)

    val before = MemoryStream[Int]
    val q = doubled(before, "profiled_before").start()
    try {
      q.processAllAvailable()
      val outside = profile {
        before.addData(6, 7)
        q.processAllAvailable()
      }
      assert(outside.jobs == 0, outside)
    } finally q.stop()
    assert(spark.table("profiled_before").count() == 2)
  }

  test("a job of a thread started before the block is not counted") {
    val own = profile(narrow()).jobs
    assert(own > 0)
    val go = new SynchronousQueue[Unit]
    val done = new SynchronousQueue[Long]
    val worker = new Thread(() => { go.take(); done.put(spark.range(100).count()) })
    worker.start()
    val p = profile {
      go.put(())
      assert(done.take() == 100L)
      narrow()
    }
    worker.join()
    assert(p.jobs == own, p)
  }

  test("jobs whose events wait behind a slow listener are still counted") {
    val own = profile(narrow()).jobs
    // a listener on the same queue that holds up every later event
    val slow = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = Thread.sleep(500)
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    val p = try profile { narrow(); narrow() } finally spark.listenerManager.unregister(slow)
    assert(p.jobs == 2 * own, p)
  }

  test("a nested profile's jobs count in both profiles") {
    val a = profile(narrow()).jobs
    val b = profile(spark.range(50).groupBy($"id" % 5).count().collect()).jobs
    var inner: QueryProfile.Profile = null
    val outer = profile {
      narrow()
      inner = profile(spark.range(50).groupBy($"id" % 5).count().collect())
    }
    assert(inner.jobs == b && outer.jobs == a + b, (inner, outer))
  }

  test("a groupBy shuffles bytes, a narrow scan none; driver time shows as driver gap") {
    val grouped = profile(spark.range(2000).groupBy($"id" % 7).agg(sum($"id")).collect())
    assert(grouped.shuffleWriteBytes > 0 && grouped.shuffleReadBytes > 0 && grouped.stages >= 2, grouped)
    val scan = profile(narrow())
    assert(scan.shuffleWriteBytes == 0 && scan.shuffleReadBytes == 0 && scan.tasks > 0, scan)
    val idle = profile { Thread.sleep(300); narrow() }
    assert(idle.driverGapMs >= 250, idle)
  }
}
