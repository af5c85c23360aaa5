package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * listener-fed counters are complete before they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
