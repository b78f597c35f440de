package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts. The block runs under a job group
  * of its own (threads it spawns inherit the group), and the listener bus
  * is drained before the count is read, so every job of the block's
  * actions is in it. */
object JobCounter {
  private val groups = new AtomicInteger

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc    = spark.sparkContext
    val group = s"graft-job-count-${groups.incrementAndGet()}"
    val jobs  = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val out = body
      ListenerDrain.drain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
