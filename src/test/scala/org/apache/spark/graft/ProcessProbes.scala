package org.apache.spark.graft

/** Runs the OS-process probes that Hadoop and Spark make once per JVM, at
  * class initialization: Hadoop's `Shell` tries `setsid`, and Spark's
  * process-tree metrics ask `getconf PAGESIZE` at the first executor
  * heartbeat. A test that counts forked processes runs these first, so it
  * counts only what the code under test starts. The metrics getter is
  * package-private to Spark, hence this bridge. */
object ProcessProbes {
  /** Whether `setsid` is available, and Spark's process-tree metrics getter. */
  def runOnce(): (Boolean, AnyRef) = (org.apache.hadoop.util.Shell.isSetsidAvailable,
    org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo)
}
