package graft.kb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The KG statistics pass — one aggregation job replacing the reference's
 * incrementally-maintained size/functionality maps
 * (kb/src/main/java/amie/data/KB.java:386-430,660-760) and the map-side
 * of its overlap tables (KB.java:474-648).
 *
 * At 100 TB the triples table is huge but the per-relation stats table is
 * tiny (#relations rows) — so it is computed once, collected, and used as
 * a broadcast value for functionality lookups and head-coverage division.
 */
final case class KGStats(relations: Map[String, RelationStats], totalFacts: Long) {
  def size(pred: String): Long = relations.get(pred).map(_.size).getOrElse(0L)
  def functionalVarIsSubject(pred: String): Boolean =
    relations.get(pred).forall(_.functionalVarIsSubject)
  def functionality(pred: String): Double =
    relations.get(pred).map(_.functionality).getOrElse(0.0)
  def inverseFunctionality(pred: String): Double =
    relations.get(pred).map(_.inverseFunctionality).getOrElse(0.0)
  def preds: Seq[String] = relations.keys.toSeq.sorted
}

object KGStats {
  /** One collect of [[relationCounts]]: the driver-side stats table. */
  def compute(triples: DataFrame): KGStats = {
    val m = relationCounts(triples).collect().map { r =>
      val s = RelationStats(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      s.pred -> s
    }.toMap
    KGStats(m, m.values.map(_.size).sum)
  }

  /** The aggregation [[compute]] collects — single shuffle: groupBy(pred)
    * with count + two exact countDistincts, one row per relation
    * (relationSize / relationColumnSize, KB.java:660-708). Exactness is
    * required by BASELINE.md (no approx_count_distinct). */
  private[graft] def relationCounts(triples: DataFrame): DataFrame =
    triples
      .groupBy("pred")
      .agg(
        count(lit(1)).as("size"),
        countDistinct(col("subj")).as("ds"),
        countDistinct(col("obj")).as("dobj"))

  /**
   * Relation-pair overlap tables (KB.java:469-648): for positions
   * (subj–subj, subj–obj, obj–obj), |entities(r1) ∩ entities(r2)|.
   * One distinct projection per side self-joined on the entity — used by
   * the PCA-approximation heuristic, not by exact metrics.
   */
  def overlaps(triples: DataFrame, pos1: String, pos2: String): DataFrame = {
    val a = triples.select(col("pred").as("p1"), col(pos1).as("e")).distinct()
    val b = triples.select(col("pred").as("p2"), col(pos2).as("e")).distinct()
    // keep p1 == p2 rows for ALL position pairs: the reference stores
    // |subjects(r) ∩ objects(r)| too (KB.buildOverlapTables), and the PCA
    // approximations need overlap(r, r, 0, 2) for relation-repeating rules
    a.join(b, "e").groupBy("p1", "p2").agg(count(lit(1)).as("overlap"))
  }
}
