package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * summary taken right after an action sees all of its tasks. The bus is
  * `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
