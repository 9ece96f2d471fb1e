package org.apache.spark

/** Waits until every posted scheduler and SQL event has reached the
  * benchmark's listeners (the bus is package-private to Spark). */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
