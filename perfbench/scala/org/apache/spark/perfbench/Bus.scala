package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this package is the one place the
  * benchmark reaches it. */
object Bus {

  /** Waits until every queued listener event is delivered. Returns false
    * when `timeoutMs` passes first, so the caller can report a partial
    * drain instead of reading half-delivered counters as complete. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
