package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this shim lives in
  * the `org.apache.spark` package tree solely to reach its drain. */
object ListenerBus {

  /** Blocks until every queued listener event has been delivered;
    * throws `TimeoutException` after `timeoutMs`. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
