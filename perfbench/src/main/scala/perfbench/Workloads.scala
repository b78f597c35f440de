package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Corpus, Doc}

/** One timed operation: `writeS` is the time to produce the workload's
  * artifact (the graph, the rule set), `readS` the times of the reads
  * that use it (queries, link prediction). `ok` is the correctness gate's
  * verdict; `outputs` counts what the op produced, for per-layer ratios. */
final case class OpResult(writeS: Double, readS: Seq[Double], ok: Boolean, detail: String,
    outputs: Map[String, Double] = Map.empty)

/** A workload: `setup` prepares inputs and expected outputs (timed as
  * `setup_s`, and may be called several times — each call replaces the
  * previous state), `op` runs one timed operation, spanned by `trace`,
  * and checks it. */
trait Workload {
  def setup(rep: Int): Unit
  def op(i: Int, trace: Trace): OpResult
  def close(): Unit = ()
}

/** Order-independent digest of a (subj, pred, obj) multiset. */
final case class Digest(rows: Long, hashSum: Long, hashXor: Long)

object Digest {
  def of(df: DataFrame): Digest = {
    val h = xxhash64(col("subj"), col("pred"), col("obj"))
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(h, lit(Int.MaxValue.toLong))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object Common {
  /** The corpus's reference extraction, one row per parsed text span. */
  def oracle(spark: SparkSession, docs: Dataset[Doc]): DataFrame = {
    import spark.implicits._
    docs.flatMap(d => Corpus.oracleTriples(d)).toDF("subj", "pred", "obj")
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a  = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRecursively(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  def fingerprint(tag: String, nDocs: Long, nEnt: Int, seed: Long): String =
    s"perfbench:$tag:$nDocs:$nEnt:$seed"
}
