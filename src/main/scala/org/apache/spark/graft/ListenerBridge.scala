package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into `SparkContext.listenerBus` (private[spark]): lets
  * [[graft.Ledger]] drain queued listener events before it reads what
  * its listener booked (delivery is asynchronous). */
object ListenerBridge {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
