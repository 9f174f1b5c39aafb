package org.apache.spark.servebench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so that a
  * listener's counts are complete before they are read. The bus is only
  * reachable from inside the `org.apache.spark` package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
