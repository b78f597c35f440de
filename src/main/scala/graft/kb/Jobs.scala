package graft.kb

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.lit

/**
 * Chunked-job execution for the mining layer: many single-row aggregate
 * plans are unioned into bounded-width jobs (Catalyst planning cost
 * grows superlinearly with union width), and the chunk jobs are
 * submitted CONCURRENTLY from a small driver pool.
 *
 * Concurrent submission matters twice: per-job driver latency
 * (planning, scheduling, result fetch) overlaps instead of summing —
 * the BFS miner runs dozens of such jobs per level — and on a cluster
 * concurrent jobs keep executors busy while the driver plans the next
 * chunk. Spark supports concurrent actions from one session; result
 * rows are tagged with ids, so completion order is irrelevant.
 */
private[graft] object Jobs {

  /** In-flight chunk jobs. 2: the driver plans one chunk while another
    * executes. Higher values showed no win at local[32] (each chunk job
    * already saturates the cores — A/B at sf0.1 was within ambient noise,
    * worst case 40% slower under contention). */
  val DefaultParallelism = 2

  /** The id tag of one part's rows, as a string literal. Whole-stage
    * codegen inlines an int literal into the generated Java but passes a
    * string literal by reference, so parts that differ only in their tag
    * share one compiled class. [[tagOf]] reads the tag back. */
  def tag(id: Int): Column = lit(id.toString)

  /** The id written by [[tag]] in the first column of a collected row. */
  def tagOf(row: Row): Int = row.getString(0).toInt

  /** Union `parts` into jobs of ≤ `chunk` plans and collect all jobs,
    * up to [[DefaultParallelism]] in flight. Returns all rows (order
    * unspecified across chunks — callers key on embedded ids). */
  def collectChunked(parts: Seq[DataFrame], chunk: Int): Seq[Row] =
    collectPools(Seq((parts, chunk))).head

  /** Run SEVERAL independent part-pools through ONE shared concurrent
    * chunk executor and return each pool's rows separately. Chunking
    * stays within a pool (pools may have different row schemas), but the
    * execution window is shared — a barrier between pools would add a
    * full job-wave of driver/scheduling latency per pool, and the BFS
    * miner runs up to five independent pools per level (fused scoring,
    * lazy/fallback counts, head sizes, refinement templates,
    * instantiations). */
  def collectPools(pools: Seq[(Seq[DataFrame], Int)]): IndexedSeq[Seq[Row]] = {
    val chunks = pools.zipWithIndex.flatMap { case ((parts, chunk), pi) =>
      parts.grouped(chunk).map(c => (pi, c))
    }
    val out = Array.fill(pools.size)(Seq.newBuilder[Row])
    if (chunks.isEmpty) return out.map(_.result()).toIndexedSeq
    if (chunks.size == 1) {
      val (pi, c) = chunks.head
      out(pi) ++= c.reduce(_ union _).collect()
      return out.map(_.result()).toIndexedSeq
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(DefaultParallelism, chunks.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-jobs"); t.setDaemon(true); t
      })
    try {
      import scala.jdk.CollectionConverters._
      val tasks = chunks.map { case (pi, c) =>
        new java.util.concurrent.Callable[(Int, Seq[Row])] {
          def call(): (Int, Seq[Row]) = (pi, c.reduce(_ union _).collect().toSeq)
        }
      }
      pool.invokeAll(tasks.asJava).asScala.foreach { f =>
        val (pi, rows) = f.get(); out(pi) ++= rows
      }
    } finally pool.shutdown()
    out.map(_.result()).toIndexedSeq
  }
}
