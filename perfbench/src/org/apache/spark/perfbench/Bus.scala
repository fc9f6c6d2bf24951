package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is private to `org.apache.spark`:
  * counts read from a listener are only complete once the bus has
  * delivered every event posted before the read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
