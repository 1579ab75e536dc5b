package org.apache.spark

/** Access to the listener bus, which is private[spark]: the traced
  * run drains queued events before reading counters at a span edge. */
object PerfbenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
