package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; tracing needs to know that every
 *  job and task event of the timed phase has been delivered before it
 *  attributes them, so this one call is made from inside Spark's package.
 */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
