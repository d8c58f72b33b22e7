package org.apache.spark

/** Test bridge to the listener bus, which is private to Spark. */
object GraftTestBus {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
