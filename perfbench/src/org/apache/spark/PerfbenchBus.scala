package org.apache.spark

/** The listener bus is package-private; the traced run must drain it so
  * the last job and micro-batch events are counted before it reports.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
