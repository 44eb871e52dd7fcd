package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark: the trace is only
  * complete once every queued event has reached the listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
