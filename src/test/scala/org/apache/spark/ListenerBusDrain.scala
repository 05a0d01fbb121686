package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so a
  * test listener has seen all of an action's jobs and tasks once the action
  * returns. The bus is package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
