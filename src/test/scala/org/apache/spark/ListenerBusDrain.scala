package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners
  * (the bus is package-private to Spark), so a count taken by a listener
  * is final once this returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
