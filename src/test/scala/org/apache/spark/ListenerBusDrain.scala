package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * listener's view of an action is complete when the action returns. The
  * bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
