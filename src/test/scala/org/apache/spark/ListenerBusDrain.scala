package org.apache.spark

/** Test-only access to the listener bus flush, so a job-counting
  * listener has seen every event of a finished action before a spec
  * reads its count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
