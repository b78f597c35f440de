package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's Spark tuning: AQE on (runtime re-plan +
  * skew-join splitting, the north rule's skew story), shuffle partitions
  * sized to the core count (not the 200 default), UTC, no UI. */
object Sessions {
  def local(cores: Int, appName: String = "graft"): SparkSession =
    tune(SparkSession.builder().master(s"local[$cores]"), cores, appName)
      .getOrCreate()

  def tune(b: SparkSession.Builder, cores: Int, appName: String): SparkSession.Builder =
    b.appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // zstd: at 100 TB the storage/network bytes dominate cost — trading
      // task CPU for ~2× smaller files is the right default, and it keeps
      // the write path CPU-dense (scales with cores, unlike kernel page
      // traffic)
      .config("spark.sql.parquet.compression.codec", "zstd")
      // dynamic-partition writes keep Spark's sort-based writer: measured
      // A/B (2M docs, pinned 4 CPUs) shows 32 concurrent zstd writers per
      // task are SLOWER than one int-keyed sort + sequential writers
      .config("spark.sql.maxConcurrentOutputFileWriters", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // shuffle/spill on tmpfs when present — a single local disk does not
      // scale with task slots the way per-executor disks do on a cluster
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir"))
}
