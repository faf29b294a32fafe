package org.apache.spark

/** The listener bus is private to Spark; the trace needs to wait for it to
  * deliver every event posted so far before it reads its totals.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
