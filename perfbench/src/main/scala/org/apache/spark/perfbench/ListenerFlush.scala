package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * listener's counters are complete when a query returns. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerFlush {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
