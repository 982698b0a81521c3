package org.apache.spark

/** The listener bus is package-private; the benchmark's trace needs to
  * wait until every event of the traced calls has been delivered. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
