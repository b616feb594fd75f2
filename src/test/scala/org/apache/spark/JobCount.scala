package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. The block runs under a job
  * group of its own, which Spark hands on to the threads it starts for the
  * block (AQE stage submission, broadcasts), so jobs of other threads are
  * not counted. The listener bus is asynchronous, so it is drained before
  * and after the block. */
object JobCount {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          started.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      ListenerDrain(sc)
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
