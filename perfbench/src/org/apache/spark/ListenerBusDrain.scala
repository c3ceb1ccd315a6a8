package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener counters are complete when read. The listener
  * bus is `private[spark]`, hence this one-method object in Spark's
  * package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
