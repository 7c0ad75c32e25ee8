package org.apache.spark

/** Waits until every queued listener event has been delivered, so counter
  * deltas read after an op include all of that op's events. Lives in
  * Spark's package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
