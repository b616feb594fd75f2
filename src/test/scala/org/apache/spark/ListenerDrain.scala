package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far, so a listener added next sees none of them. The drain is
  * package-private to Spark, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
