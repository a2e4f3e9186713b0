package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read afterwards are complete. The listener bus is internal to
  * Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
