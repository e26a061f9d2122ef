package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event; the bus is
  * package-private, hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
