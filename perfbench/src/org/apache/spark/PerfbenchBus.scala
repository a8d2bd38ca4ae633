package org.apache.spark

/** Drains Spark's listener bus (`waitUntilEmpty` is `private[spark]`), so a
  * traced span sees every stage and progress event of its own work before
  * the next span starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
