package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * tracer's spans are complete before they are written. The listener
  * bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
