package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run, built with the
  * engine's own configuration ([[Sessions.tune]]), so the suite runs what
  * the CLIs and perfbench run. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.tune(SparkSession.builder().master("local[4]"), 4, "graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
