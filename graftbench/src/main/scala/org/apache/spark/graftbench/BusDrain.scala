package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Narrow bridge to the `private[spark]` listener bus: the traced run
  * drains it at every layer boundary so listener counters are complete
  * before they are read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
