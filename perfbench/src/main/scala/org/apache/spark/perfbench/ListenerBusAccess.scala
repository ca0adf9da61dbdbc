package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto the live listener bus. The bus is `private[spark]`;
  * the harness posts a marker after each operation and waits for its own
  * listener to receive it, which proves every job/stage event the
  * operation produced was delivered first (events are delivered in post
  * order), without sleeping. */
object ListenerBusAccess {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
