package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners have seen all jobs and query executions before
  * their totals are read. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
