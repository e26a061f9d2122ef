package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * spec can read what its listeners saw; the bus is package-private, hence
  * this bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
