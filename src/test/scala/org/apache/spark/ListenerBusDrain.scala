package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a test's listener counters are complete when read. The listener bus is
  * internal to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
