package org.apache.spark.vssbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private. */
object BusDrain {
  /** Wait until every posted listener event has been delivered. False when
    * the bus did not empty within `timeoutMs`; the caller then treats the
    * listener's counters as missing instead of failing the measured work. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
