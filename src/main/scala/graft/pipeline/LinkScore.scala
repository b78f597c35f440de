package graft.pipeline

import graft.plans.DriverRegime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 3 — entity-link scoring: resolve each mention's subject/object
 * alias to a canonical entity, keeping the best-scoring candidate.
 *
 * The candidate table (alias, canonical, score) is derived from the
 * canonicalization map: a candidate scores 1.0 on exact alias identity,
 * 0.9 on case-insensitive match with the canonical form, 0.7 on
 * separator-stripped match. Top-1 per mention side is a single
 * `max_by(canonical, struct(score, canonical))` aggregation — no window
 * shuffle-sort needed.
 *
 * The alias→canonical table is vocabulary-sized, so while it fits the
 * driver regime ([[graft.plans.DriverRegime]]) both resolution joins are
 * explicitly `broadcast()` — at 10¹² mentions this is the difference
 * between two map-side joins and two full shuffles.
 */
object LinkScore {

  /** (alias, canonical, score) candidate catalog. */
  def candidates(aliasMap: DataFrame): DataFrame = {
    val strip = (c: org.apache.spark.sql.Column) => lower(regexp_replace(c, "[ _]", ""))
    aliasMap.select(
      col("alias"), col("canonical"),
      when(col("alias") === col("canonical"), 1.0)
        .when(lower(col("alias")) === lower(col("canonical")), 0.9)
        .when(strip(col("alias")) === strip(col("canonical")), 0.7)
        .otherwise(0.5).as("score"))
  }

  /** Best candidate per alias — the top-1 reduction happens on the
    * vocabulary-sized candidate table, NOT on the mention stream: scores
    * depend only on (alias, candidate), so reducing before the broadcast
    * join is equivalent and removes a corpus-sized shuffle. */
  def bestCandidates(aliasMap: DataFrame): DataFrame =
    candidates(aliasMap)
      .groupBy("alias")
      .agg(max_by(col("canonical"), struct(col("score"), col("canonical"))).as("canonical"))

  /** Canonical entity → dense id (1-based sorted rank; sorted-order ids
    * make encode and decode deterministic under any partitioning). This
    * is the distributed regime of [[aliasDictionary]]: at 10¹² docs the
    * canonical-entity vocabulary is itself billions of rows, so the rank
    * rides [[graft.kb.Dictionary.sortedRanks]] — bounded window
    * partitions, output-identical to the naive global
    * `row_number() OVER (ORDER BY canonical)` an oracle checks with.
    * Takes the already-computed best-candidate table so the top-1
    * reduction runs once per stage, not once per consumer. */
  def entityDictionary(best: DataFrame): DataFrame =
    graft.kb.Dictionary.sortedRanks(
      best.select(col("canonical")).distinct(), "canonical", "entity_id")

  /**
   * alias → (canonical, entity_id): the persisted encode/decode catalog
   * of the graph table (AMIE itself stores its KB int-encoded —
   * kb/src/main/java/amie/data/KB.java:40-72; at 10¹²-doc scale the
   * string forms live ONLY in this vocabulary-sized dictionary, never in
   * the fact rows). One row per alias; `select(entity_id, canonical)
   * .distinct()` is the decode side.
   *
   * `best` is materialized once and one [[graft.plans.DriverRegime.probe]]
   * picks one of two regimes with the same output:
   * - at most [[graft.plans.DriverRegime.Ceiling]] aliases: the driver
   *   sorts the distinct canonicals in Spark's binary UTF-8 order (the
   *   order of `row_number() OVER (ORDER BY canonical)`), ranks them from
   *   1 and returns the catalog as a ONE-partition local DataFrame — one
   *   write task and one parquet file, so every later read of the catalog
   *   (the decoded view's catalog collect) is one scan task, not one per
   *   default-parallelism slice;
   * - above it: [[entityDictionary]] over the materialized `best`, joined
   *   back to it.
   */
  def aliasDictionary(best: DataFrame): DataFrame =
    aliasDictionary(best, DriverRegime.Ceiling)

  /** [[aliasDictionary]] with the regime ceiling as a parameter, so tests
    * can force the distributed regime (`driverThreshold = 0`). */
  private[pipeline] def aliasDictionary(best: DataFrame, driverThreshold: Int): DataFrame = {
    val pairs = best.select(col("alias"), col("canonical")).localCheckpoint(true)
    DriverRegime.probe(pairs, driverThreshold) match {
      case Some(rows) =>
        val spark = best.sparkSession
        import spark.implicits._
        val ids = DriverRegime.sortUtf8(rows.map(_.getString(1)).distinct)
          .iterator.zipWithIndex.map { case (c, i) => c -> (i + 1L) }.toMap
        rows.toSeq.map { r => (r.getString(0), r.getString(1), ids(r.getString(1))) }
          .toDF("alias", "canonical", "entity_id")
          .coalesce(1)
      case None =>
        pairs.join(entityDictionary(pairs), "canonical")
          .select(col("alias"), col("canonical"), col("entity_id"))
    }
  }

  /**
   * mentions + alias catalog → linked mentions: two joins, map-side
   * (broadcast) under the default `broadcastDict`, so the mention stream
   * is not shuffled. Subject/object come out DICTIONARY-ENCODED to longs
   * (subject kept as a string column too, for the storage-bucket hash; the
   * relation keeps its string form — relation cardinality is tiny, the
   * parquet sink dictionary-encodes it to ~1 byte/row, and a physical
   * `pred` column is what lets downstream mining scans push relation
   * filters to the parquet reader). The caller shuffles the narrow row
   * — on the bandwidth-limited materialize shuffle the two entity
   * strings become fixed 8-byte longs and are never decoded again:
   * decode happens on READ, via [[graft.pipeline.Pipeline.materialized]].
   */
  def linkEncoded(mentions: DataFrame, aliasDict: DataFrame,
      broadcastDict: Boolean = true): DataFrame = {
    // broadcastDict: the caller's regime choice (Pipeline.run broadcasts
    // iff the catalog's row count DriverRegime.fits) — an unconditional
    // hint would collect a billions-row dictionary on the driver; without
    // it, Catalyst/AQE picks the join strategy
    val hint: DataFrame => DataFrame = if (broadcastDict) broadcast else identity
    val subj = aliasDict.select(col("alias").as("subj_alias"),
      col("entity_id").as("subj_id"), col("canonical").as("subj"))
    val obj  = aliasDict.select(col("alias").as("obj_alias"), col("entity_id").as("obj_id"))
    mentions
      .join(hint(subj), "subj_alias")
      .join(hint(obj), "obj_alias")
      .select(col("doc_id"), col("span_idx"),
        col("subj"), col("subj_id"), col("rel").as("pred"), col("obj_id"))
  }
}
