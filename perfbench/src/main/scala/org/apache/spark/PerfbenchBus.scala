package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
 *  so per-pass listener totals are complete when they are read. The bus
 *  is internal to Spark, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
