package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; totals read right after a timed pass
  * must first wait for every queued event to be delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
