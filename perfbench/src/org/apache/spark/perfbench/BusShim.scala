package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The two `private[spark]` listener-bus hooks the tracer needs: posting its
  * span markers into the same ordered stream as the scheduler's events, and
  * draining the bus before counters are read. */
object BusShim {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
