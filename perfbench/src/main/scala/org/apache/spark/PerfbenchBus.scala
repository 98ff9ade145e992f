package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * query's job, stage and task events are all counted before its record
  * is closed. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
