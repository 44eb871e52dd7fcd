package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus (private to the `spark` package):
  * listener events arrive asynchronously, so a job count is only complete
  * once every queued event has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
