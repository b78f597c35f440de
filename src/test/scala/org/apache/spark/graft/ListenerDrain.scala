package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters include the jobs of the action that just returned.
  * The bus is package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
