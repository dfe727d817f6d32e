package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto the context's listener bus. The bus is
  * `private[spark]`; the benchmark uses it to drain the shared listener
  * queue with a FIFO marker instead of sleeping. */
object BusBridge {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
