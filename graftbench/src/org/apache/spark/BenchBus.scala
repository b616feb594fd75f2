package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * package-private to Spark. The benchmark calls it before reading its
  * listener's counts, so no event of a traced op is still in flight. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
