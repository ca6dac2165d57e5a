package org.apache.spark

/** The listener bus is package-private to Spark; the tracer needs to wait
  * for it to drain before it summarises what the listeners recorded.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
