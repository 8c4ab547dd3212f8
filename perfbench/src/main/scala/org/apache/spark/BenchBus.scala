package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener sums include the tasks that have just finished. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
