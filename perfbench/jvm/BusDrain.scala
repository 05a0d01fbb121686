package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced window's job, stage, task, query-execution and streaming events
  * are all recorded before the trace is written. The bus is package-private
  * to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
