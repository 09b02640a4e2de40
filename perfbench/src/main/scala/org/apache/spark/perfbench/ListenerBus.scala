package org.apache.spark.perfbench

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The traced run drains it after every query so each listener event is
  * attributed to the query that caused it. */
object ListenerBus {

  /** Wait until every queued listener event has been delivered; false when
    * the bus is still busy after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
