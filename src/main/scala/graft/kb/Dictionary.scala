package graft.kb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic dictionary encoding — the Spark equivalent of the
 * reference's string↔int interning (Schema.map/unmap,
 * kb/src/main/java/amie/data/Schema.java:290-339): every distinct term
 * (entity, relation, or literal) gets a dense LONG id equal to its rank
 * in the sorted vocabulary.
 *
 * Scalable id assignment: a naive `row_number() OVER (ORDER BY term)`
 * is a single-partition window. Instead the vocab is range-partitioned
 * by term, each partition gets a windowed local rank (bounded frames),
 * and per-partition offsets (one tiny collect of partition counts) lift
 * local ranks to the global rank — O(vocab/P) per task at any scale.
 * The result is IDENTICAL to the naive global row_number, so an
 * external oracle can check it with one window function.
 */
object Dictionary {

  val Partitions = 64

  /** Dense 1-based sorted ranks over a distinct one-column vocabulary —
    * output-identical to `row_number() OVER (ORDER BY column)` but with
    * bounded window partitions (range-partition → local rank → tiny
    * partition-count collect lifts local to global), so it scales to a
    * billion-row vocabulary where the global window is one task.
    * Range partitioning orders partitions (every value in pid p sorts
    * before every value in pid p+1), which is the only invariant the
    * offset lift needs — sampling-dependent BOUNDARIES cannot change the
    * result. Returns (column, out).
    *
    * The vocabulary is localCheckpoint'd first: range SAMPLING is its own
    * pass over the input, so an uncheckpointed vocab derived from a large
    * scan (the CC-derived alias map of the pipeline, the namespaces of an
    * RDF load) would be recomputed once for the sampler and once for the
    * shuffle — on a 100-TB KB that is one full scan saved per build. */
  def sortedRanks(vocab: DataFrame, column: String, out: String): DataFrame = {
    // SECOND checkpoint AFTER the range exchange: the counts collect and
    // the final join are separate actions, and RangePartitioner re-samples
    // boundaries with new seeds per execution — without pinning the
    // materialized partition assignment, pid membership could shift
    // between the two actions and misalign the offsets (duplicate/gapped
    // ids). The first checkpoint still saves the sampler's extra pass
    // over the vocab-producing scan.
    val terms = vocab.localCheckpoint(true)
      .repartitionByRange(Partitions, col(column))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val local = terms.withColumn("local_rank",
      row_number().over(Window.partitionBy("pid").orderBy(column)))
    val counts = local.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).init
      .zip(counts).map { case (off, (pid, _)) => pid -> off }.toMap
    val offsetDF = local.sparkSession
      .createDataFrame(offsets.toSeq.map { case (p, o) => (p, o) })
      .toDF("pid", "offset")
    local.join(broadcast(offsetDF), "pid")
      .select(col(column), (col("offset") + col("local_rank")).as(out))
  }
}
