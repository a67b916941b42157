package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached its listeners, so counts taken by a
  * test's listeners are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
