package graft.pipeline

import graft.expressions.{EntityDecode, EntityDictionary}
import graft.plans.DriverRegime
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * The KG-construction pipeline (BASELINE.json north_rule):
 *
 *   docs → MentionDetect → Canonicalize (CC over alias graph)
 *        → LinkScore (broadcast candidate join, top-1)
 *        → Materialize (subj, pred, obj, lineage), hash-bucketed by subj
 *
 * Every stage is a checkpointed parquet write with a `_manifest.json`
 * (per-partition rows + checksums = lineage; input fingerprint = resume
 * key). On restart, completed stages are skipped and their output reused
 * — `runsExecuted`/`runsSkipped` expose this for tests.
 *
 * Scale decisions (explicit, per north_rule):
 *  - the materialize shuffle is *salted*: head subjects (power-law) would
 *    otherwise pin whole hash buckets onto single tasks, so rows are
 *    repartitioned by (bucket, salt) with salt = xxhash64(doc,span) % S;
 *    the on-disk layout stays bucketed by subject hash (directory
 *    partition column `bucket`), which later rule-quality joins prune on;
 *  - AQE (adaptive + skew-join) is expected on in the session (Sessions);
 *  - every vocabulary-sized choice follows one rule,
 *    [[graft.plans.DriverRegime]]: the alias map, the entity ids and the
 *    entity catalog finish on the driver while their row count
 *    [[graft.plans.DriverRegime.fits]], and run as distributed rounds
 *    above it;
 *  - the alias/entity dictionary reaches executors whole (broadcast link
 *    joins, the decode dictionary) ONLY while the `alias_map` stage's row
 *    count fits: a broadcast collects its build side on the driver, which
 *    is what the ceiling bounds, and at 10¹² docs the canonical
 *    vocabulary can itself be billions of rows. Above the ceiling the
 *    joins are left to Catalyst/AQE (shuffle-hash of dictionary vs
 *    mention stream) — slower, but it completes; the encoded-long
 *    payload keeps that shuffle narrow.
 *
 * Reads decode on the fly ([[materialized]]) and the decoded view is a
 * per-run artifact: built on first use, kept until the next [[run]]. When
 * the catalog fits ([[graft.plans.DriverRegime]]'s rule, applied to the
 * `alias_map` manifest's row count) it is collected once into a sorted
 * id → canonical dictionary, broadcast once and probed in the scan's
 * projection, so a query over the view scans only the encoded `triples`
 * table and joins nothing to decode (AMIE's KB is likewise loaded once
 * and answered from memory).
 */
final class Pipeline(
    spark: SparkSession,
    val workDir: String,
    nBuckets: Int = 32) {

  var runsExecuted: List[String] = Nil
  var runsSkipped: List[String]  = Nil

  /** The decoded view of the current run's stages, built on first use by
    * [[materialized]] and dropped by [[run]]. */
  private var view: Option[(DataFrame, Option[Broadcast[EntityDictionary]])] = None

  private def stageDir(name: String) = s"$workDir/$name"

  /** Run one resumable stage: skip when a complete manifest matches the
    * input fingerprint, else compute → write parquet → hand the manifest
    * write to `submitManifest`. Either way the stage is read back with its
    * declared `schema`, so the read-back starts no schema-inference job.
    * Returns the read-back and the stage's row count (the manifest's when
    * skipped, the one observed during the write when computed). */
  private def stage(name: String, schema: StructType, inputFp0: String,
      submitManifest: Runnable => Unit, partitionCols: Seq[String] = Nil)(
      compute: => DataFrame): (DataFrame, Long) = {
    // the fingerprint carries the on-disk LAYOUT version alongside the
    // input identity: a workDir written by an older stage layout (e.g.
    // the pre-entity-id triples schema) must recompute, not resume into
    // missing-column failures downstream
    val inputFp = s"layout=${Pipeline.LayoutVersion}|$inputFp0"
    val dir = stageDir(name)
    Manifest.read(dir) match {
      case Some(m) if m.complete && m.inputFingerprint == inputFp =>
        runsSkipped ::= name
        (spark.read.schema(schema).parquet(dir), m.totalRows)
      case _ =>
        runsExecuted ::= name
        val df = compute
        // row count + content checksum captured DURING the write job
        // (observe = zero extra pass); per-file rows/bytes from parquet
        // footers (metadata only) — no re-read of the stage output.
        val obs     = new org.apache.spark.sql.Observation(s"graft_$name")
        val hashCol = coalesce(
          bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L))
        val w = df.observe(obs, count(lit(1)).as("rows"), hashCol.as("checksum"))
          .write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(dir)
        val rows     = obs.get("rows").asInstanceOf[Long]
        val checksum = obs.get("checksum").asInstanceOf[Long]
        val hconf    = spark.sparkContext.hadoopConfiguration
        submitManifest(() => Manifest.write(dir, StageManifest(
          stage = name,
          inputFingerprint = inputFp,
          totalRows = rows,
          globalChecksum = checksum,
          partitions = Manifest.footerStats(dir, hconf),
          complete = true)))
        (spark.read.schema(schema).parquet(dir), rows)
    }
  }

  /**
   * Full run: docs → triples(subj, pred, obj, src_doc, src_span, bucket).
   *
   * @param inputFp optional caller-asserted input identity (e.g. the
   *                generator parameters, or a storage-layer snapshot id).
   *                When absent, a full data fingerprint pass is paid —
   *                at 10¹² docs the metadata-based identity is the only
   *                sane choice (Iceberg snapshot-id semantics).
   */
  def run(docs: Dataset[Doc], inputFp: Option[String] = None): DataFrame = {
    // unpersist, not destroy: a view taken before this run still collects
    synchronized { view.foreach(_._2.foreach(_.unpersist())); view = None }
    // Manifest writes (footer reads + JSON) are driver-only metadata work —
    // they overlap the NEXT stage's compute instead of serializing after
    // each write job. Crash-safety is unchanged: a stage missing its
    // manifest simply recomputes on restart (deterministically), and a
    // single-thread pool keeps manifest writes ordered. The pool lives for
    // one run and is drained on every exit, a failing one included, so no
    // manifest task outlives the run that wrote its stage.
    val manifestPool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-manifest"); t.setDaemon(true); t })
    val pending = scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
    try runImpl(docs, inputFp, task => pending += manifestPool.submit(task))
    finally {
      manifestPool.shutdown()
      manifestPool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      pending.foreach(_.get()) // rethrows a failed manifest write
    }
  }

  private def runImpl(docs: Dataset[Doc], inputFp: Option[String],
      submitManifest: Runnable => Unit): DataFrame = {
    val docsDF = docs.toDF()
    // the whole doc row, not just its id: an edited doc under the same id
    // must not resume into the old graph
    val docsFp = inputFp.getOrElse(Manifest.fingerprint(docsDF))

    val (mentions, _) = stage("mentions", Pipeline.MentionsSchema, docsFp, submitManifest)(
      MentionDetect.mentions(docsDF))

    // downstream stages are deterministic functions of the docs input, so
    // the docs fingerprint + a stage tag is their resume identity — no
    // extra fingerprint pass over intermediate data.
    //
    // The stage persists the full alias→(canonical, entity_id) catalog:
    // CC canonicalization, link-score re-ranking (bestCandidates) and the
    // dictionary id assignment are all vocabulary-sized driver-light
    // passes, and the graph table stores dictionary-encoded entity ids
    // (the only sane layout at 10¹² docs — AMIE's own KB is int-encoded),
    // so the decode catalog must survive with the table. One stage, not
    // three: each extra vocabulary-sized stage costs fixed write+manifest
    // +read latency that does not shrink with cores. Canonicalization and
    // id assignment each pick their regime with DriverRegime.probe; same
    // rows and ids either way.
    val aliasFp = docsFp + "|aliases"
    val (aliasDict, aliasRows) =
      stage("alias_map", Pipeline.AliasMapSchema, aliasFp, submitManifest) {
        LinkScore.aliasDictionary(
          LinkScore.bestCandidates(Canonicalize.aliasMap(mentions)))
      }

    // link scoring is fused into the materialize stage: the linked stream
    // is cheap to recompute from (mentions, alias_map) — persisting it
    // would double the heaviest I/O for no resume value
    val (out, _) = stage("triples", Pipeline.TriplesSchema, docsFp + "|" + aliasFp,
        submitManifest, partitionCols = Seq("bucket")) {
      // The materialize exchange is the pipeline's dominant shuffle and
      // this VM (like any node) is bandwidth-bound on row churn: subject
      // and object ship as dictionary-encoded LONGS (bucket/salt computed
      // before the exchange, from the string form) and are NEVER decoded
      // — the sink keeps the ids, decode happens on read via
      // [[materialized]]. The relation stays a string: tiny cardinality
      // (parquet dictionary-encodes it away) and mining scans get
      // relation-filter pushdown on a physical column. The salt lives
      // only in the partitioning EXPRESSION (never a materialized column
      // — 8 fewer bytes per shuffled row); rows are sorted by bucket
      // after the exchange so the dynamic-partition writer reuses the
      // sort.
      LinkScore.linkEncoded(mentions, aliasDict,
        broadcastDict = DriverRegime.fits(aliasRows))
        .withColumn("bucket", pmod(xxhash64(col("subj")), lit(nBuckets)).cast("int"))
        .select(col("doc_id").as("src_doc"), col("span_idx").as("src_span"),
          col("subj_id"), col("pred"), col("obj_id"), col("bucket"))
        .repartition(col("bucket"),
          pmod(xxhash64(col("src_doc"), col("src_span")), lit(1 << Pipeline.SaltBits)))
        .sortWithinPartitions("bucket")
    }
    out
  }

  /** The emitted graph, entity ids decoded — (subj, pred, obj, src_doc,
    * src_span, bucket). Relation filters and bucket pruning on the
    * decoded view still reach the parquet scan because `pred` and
    * `bucket` are physical columns of the encoded table.
    *
    * The view is built once per run and reused by every later call until
    * the next [[run]], so each query plans against the same DataFrame and
    * pays neither stage listing nor schema inference. Building it reads
    * both stages with the schemas declared in `object Pipeline`, so the
    * build infers none either. How the entity catalog `(entity_id,
    * canonical)` decodes is chosen once, when the view is built:
    *  - the `alias_map` manifest counts at most
    *    [[graft.plans.DriverRegime.Ceiling]] rows (an upper bound on the
    *    distinct entities; no probe needed): one scan job collects the
    *    catalog into a sorted [[graft.expressions.EntityDictionary]],
    *    shipped in one Spark broadcast, and the scan's projection decodes
    *    each id with [[graft.expressions.EntityDecode]]; rows whose id is
    *    not in the catalog are dropped, as the decode join would drop
    *    them. A query then scans only the encoded `triples` table, with
    *    no join and no exchange for the decode (AMIE's KB is likewise
    *    int-encoded and decoded by a dictionary probe);
    *  - otherwise, or without a manifest: the catalog stays a parquet scan
    *    + `distinct` joined to the triples on each id, with no join hint,
    *    and Catalyst/AQE choose the joins. */
  def materialized(): DataFrame = synchronized {
    view.getOrElse {
      val v = decoded(DriverRegime.Ceiling)
      view = Some(v)
      v
    }._1
  }

  /** A freshly built decoded view, with the broadcast dictionary behind it
    * in the driver regime, and the catalog's regime ceiling as a
    * parameter, so tests can force the distributed catalog
    * (`driverThreshold = 0`). Not memoized. */
  private[pipeline] def decoded(
      driverThreshold: Int): (DataFrame, Option[Broadcast[EntityDictionary]]) = {
    val catalogDir = stageDir("alias_map")
    val scan = spark.read.schema(Pipeline.AliasMapSchema).parquet(catalogDir)
      .select(col("entity_id"), col("canonical"))
    val triples = spark.read.schema(Pipeline.TriplesSchema).parquet(stageDir("triples"))
    val fits = Manifest.read(catalogDir)
      .exists(m => DriverRegime.fits(m.totalRows, driverThreshold))
    if (fits) {
      val dict = spark.sparkContext.broadcast(EntityDictionary(scan.collect().toSeq
        .collect { case r if !r.isNullAt(0) => (r.getLong(0), r.getString(1)) }))
      val view = triples
        .select(EntityDecode(col("subj_id"), dict).as("subj"), col("pred"),
          EntityDecode(col("obj_id"), dict).as("obj"),
          col("src_doc"), col("src_span"), col("bucket"))
        .where(col("subj").isNotNull && col("obj").isNotNull)
      (view, Some(dict))
    } else {
      val entities = scan.distinct()
      val view = triples
        .join(entities.select(col("entity_id").as("subj_id"),
          col("canonical").as("subj")), "subj_id")
        .join(entities.select(col("entity_id").as("obj_id"),
          col("canonical").as("obj")), "obj_id")
        .select(col("subj"), col("pred"), col("obj"),
          col("src_doc"), col("src_span"), col("bucket"))
      (view, None)
    }
  }

  /** The emitted graph as a plain (subj, pred, obj) KB for rule mining. */
  def triples(): DataFrame = materialized().select("subj", "pred", "obj")
}

object Pipeline {
  /** Bump whenever a stage's on-disk schema/layout changes — folded into
    * every stage fingerprint so old checkpoints invalidate explicitly.
    * v2 = entity-id-encoded triples + alias catalog with entity_id. */
  val LayoutVersion = 2

  /** On-disk schema of the `mentions` stage at [[LayoutVersion]]: the
    * [[Mention]] columns. Each stage is read back with its declared schema,
    * so neither a run nor the decoded view starts a schema-inference job. */
  val MentionsSchema: StructType = StructType.fromDDL(
    "doc_id STRING, span_idx INT, subj_alias STRING, rel STRING, obj_alias STRING")

  /** On-disk schema of the `alias_map` stage at [[LayoutVersion]]. */
  val AliasMapSchema: StructType =
    StructType.fromDDL("alias STRING, canonical STRING, entity_id BIGINT")

  /** On-disk schema of the `triples` stage at [[LayoutVersion]], its
    * `bucket` directory partition column included. */
  val TriplesSchema: StructType = StructType.fromDDL(
    "src_doc STRING, src_span INT, subj_id BIGINT, pred STRING, obj_id BIGINT, bucket INT")

  /** log2 of the salt fan-out per bucket in the materialize shuffle:
    * each subject-hash bucket spreads over 2^SaltBits write tasks. */
  val SaltBits = 3
}
