package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The listener bus is package-private; the trace needs it to post op
  * markers in bus order and to drain pending events before it writes. */
object GraftBenchBus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
