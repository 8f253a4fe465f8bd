package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so
  * trace counters read after an action include that action's events. The
  * bus is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
