package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * counter snapshot taken at a span edge includes the tasks and jobs of
  * the action that just returned. The bus is package-private to Spark,
  * hence this one-line bridge. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
