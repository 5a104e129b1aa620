package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's counters are complete before it reads them. The bus is
  * `private[spark]`; this bridge lives in Spark's package for that one
  * call.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
