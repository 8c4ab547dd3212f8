package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: blocks until every posted event (query-execution
  * listener callbacks included) has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
