package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so
  * spans and micro-batch progress read after a pass are complete.
  * Lives under `org.apache.spark` because the bus is Spark-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
