package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus, the technique
  * `org.apache.spark.sql.graft.bridge` uses for Catalyst internals.
  *
  * `drain` blocks until every queued listener event has been delivered, so
  * counters read right after it are complete; a fixed sleep would race a
  * slow bus and silently drop events.
  */
object Bridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
