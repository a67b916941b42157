package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to know that
  * every event of a finished op has been delivered before it rolls the
  * op up.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
