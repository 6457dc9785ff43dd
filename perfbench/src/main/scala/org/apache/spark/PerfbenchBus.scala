package org.apache.spark

/** The listener bus is private[spark]; the trace needs every task-end event
 * of a span delivered before it reads that span's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
