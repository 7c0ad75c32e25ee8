package org.apache.spark

/** Test access to the listener bus: block until every event posted so
  * far has reached the listeners, so a count taken right after is
  * complete. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
