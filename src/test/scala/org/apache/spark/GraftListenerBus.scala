package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the listener bus: block until every event posted so
  * far has reached the listeners, so a count taken right after is
  * complete. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** What `body` returns and the number of Spark jobs it launched (jobs
    * of this thread's job group only, so a job another suite left
    * running cannot count). */
  def jobsWhile[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count probe", interruptOnCancel = false)
    try {
      val out = body
      drain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
