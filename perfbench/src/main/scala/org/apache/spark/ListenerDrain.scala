package org.apache.spark

/** Waits until every queued listener event has been delivered; the bus is
  * private to Spark's package, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
