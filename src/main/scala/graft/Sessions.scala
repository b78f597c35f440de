package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's Spark tuning: AQE on (runtime re-plan +
  * skew-join splitting, the north rule's skew story), shuffle partitions
  * sized to the core count (not the 200 default), UTC, no UI, whole-stage
  * code compiled once per JVM (see [[CodegenCacheEntries]]) and Tungsten
  * pages sized for small plans (see [[PageSize]]). */
object Sessions {
  /** Compiled-class cache size (`spark.sql.codegen.cache.maxEntries`).
    *
    * The miner plans every BFS level's scoring and candidate counts anew,
    * but the plan shapes recur: across levels, from one mine to the next,
    * and between the same-shape union branches of one job. Spark keys its
    * compiled-class cache on the generated source, so a recurring shape
    * compiles once, if two defaults let it:
    *  - `spark.sql.codegen.useIdInClassName` (default true) puts the
    *    codegen stage id into the class name, so byte-identical stage code
    *    under another id is a new source and compiles again; it is off here;
    *  - the cache holds 100 classes by default, fewer than one run
    *    generates, so classes compiled early are evicted before they recur.
    * Each is needed. In perfbench's first timed `mine` op (traced run, seed
    * 601) the mine compiled 149 classes with neither setting, 89 with the
    * class-name setting alone, 56 with the cache size alone and 6 with
    * both (145 with neither and int id tags, see [[graft.kb.Jobs.tag]]).
    *
    * Distinct classes per perfbench run (seed 601), counted with both
    * settings and an unbounded cache: `mine` 252 untraced and 260 traced,
    * `build` 91 and 101. 1000 holds every class of either run with room
    * to spare, where 100 held under half of a `mine` run. */
  val CodegenCacheEntries = 1000

  /** Tungsten page size (`spark.buffer.pageSize`). Every hash aggregate
    * and sort of a task takes at least one page, and Spark's default sizes
    * pages from the heap (16 MB at a 3 GB heap on 4 cores), not from the
    * data. The miner's plans aggregate a few thousand rows each, so nearly
    * all of every page is zeroed and never written, and the pages live
    * long enough to be promoted: with the default, a second `mine` op in
    * one perfbench JVM raised its peak RSS from about 3.0 to 3.5 GB. With
    * 1 MB pages (the floor of Spark's own sizing rule) the same two ops
    * peaked at 1.8 GB, and one `build` op at 1.6 instead of 1.9 GB, with
    * write and read times unchanged. 4 MB pages peaked at 2.1 GB, but the
    * test suite's largest mining test then stalled in page-allocation
    * retries. A task holds at most 8192 pages, so one task can use 8 GB
    * of Tungsten memory; a record larger than a page gets a page of its
    * own. */
  val PageSize = "1m"

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
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.buffer.pageSize", PageSize)
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
