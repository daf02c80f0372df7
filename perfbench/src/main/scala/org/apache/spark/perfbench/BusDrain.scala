package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private. */
object BusDrain {
  /** Wait until every event posted so far has reached every listener.
    * Returns false if that takes longer than `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
