package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this package may reach it. */
object Bus {

  /** Blocks until every queued listener event has been delivered, so
    * counters read right after an action include that action's tasks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
