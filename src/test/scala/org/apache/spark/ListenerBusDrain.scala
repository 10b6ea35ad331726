package org.apache.spark

/** Test access to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached every listener, so a listener's
  * counts are complete when a test reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
