package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kb.{Atom, Const, Ops, QueryBuilder, Var}
import graft.pipeline._

/** `build`: Pipeline.run over a fresh work dir (the write), then one client
  * running a closed loop of conjunctive queries, one of each kind drawn
  * from a seeded pool, against the decode-on-read view of the graph it
  * just wrote (the reads), `rounds` times. Both sides of the on-disk layout
  * show in one op: a layout that speeds the write can slow the reads. One
  * query per kind and round keeps the read mix the same for every seed. Traced ops run the
  * pipeline's stages through the layer functions Pipeline.run composes, one
  * span per stage. */
final class BuildWorkload(spark: SparkSession, root: String, nDocs: Long, nEnt: Int,
    seed: Long, poolPerKind: Int, rounds: Int) extends Workload {
  private var docs: Dataset[Doc] = _
  private var expected: Digest   = _
  private var pool: Seq[IndexedSeq[Query]] = _
  private var answers: Map[Query, Set[Seq[String]]] = _
  private val pick = new scala.util.Random(seed)

  def setup(rep: Int): Unit = {
    docs = Corpus.generate(spark, nDocs, nEnt, seed)
    val oracle = Common.oracle(spark, docs)
    expected = Digest.of(oracle)
    val facts = oracle.groupBy("subj", "pred", "obj").count().collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(3))).toSeq
    val index = new OracleIndex(facts)
    pool = Query.pool(seed, nEnt, poolPerKind)
    answers = pool.flatten.map(q => q -> q.expected(index)).toMap
  }

  def op(i: Int, trace: Trace): OpResult = {
    val dir = s"$root/build-op-$i"
    val fp  = Common.fingerprint("build", nDocs, nEnt, seed)
    val p   = new Pipeline(spark, dir)
    try {
      val (bytes, writeS) = Common.timed {
        if (trace eq NoTrace) { p.run(docs, Some(fp)); 0L }
        else BuildStages.run(spark, trace, docs, dir, fp)
      }
      val got = trace.span("kb.decode")(Digest.of(p.triples()))
      val problems = scala.collection.mutable.ArrayBuffer[String]()
      if (got != expected) problems += s"decoded graph $got differs from the oracle's $expected"
      var rowsOut = 0L
      val reads = Seq.fill(rounds)(pool).flatten.map { kind =>
        val q = kind(pick.nextInt(kind.size))
        val (rows, s) = Common.timed {
          val df = q.run(p.triples())
          trace.span("kb.query.plan")(df.queryExecution.executedPlan)
          trace.span("kb.query.exec")(df.collect())
        }
        val ans = rows.map(r => r.toSeq.map(String.valueOf)).toSet
        if (ans != answers(q) || ans.size != rows.length)
          problems += s"$q: ${rows.length} rows, expected ${answers(q).size}"
        rowsOut += rows.length
        s
      }
      val bytesOut = if (bytes > 0) Map("bytes_written" -> bytes.toDouble) else Map.empty[String, Double]
      OpResult(writeS, reads, problems.isEmpty, problems.take(3).mkString("; "),
        bytesOut ++ Map("triples" -> got.rows.toDouble, "rows_out" -> rowsOut.toDouble))
    } finally Common.deleteRecursively(dir)
  }
}

/** The stages of Pipeline.run, called one by one from outside so each
  * layer gets its own span. Same layout on disk (alias_map, bucketed
  * triples, manifests), so Pipeline.triples() decodes the result. */
object BuildStages {
  val Buckets  = 32
  val SaltBits = 3

  /** Returns the parquet bytes written for the triples table. */
  def run(spark: SparkSession, trace: Trace, docs: Dataset[Doc], dir: String, fp: String): Long = {
    val mentions = trace.span("pipeline.mentions") {
      val m = MentionDetect.mentions(docs.toDF()).persist()
      m.write.format("noop").mode("overwrite").save()
      m
    }
    try {
      val aliases = trace.span("pipeline.canonicalize")(Canonicalize.aliasMap(mentions))
      trace.span("pipeline.dictionary") {
        LinkScore.aliasDictionary(LinkScore.bestCandidates(aliases))
          .write.mode("overwrite").parquet(s"$dir/alias_map")
      }
      trace.span("pipeline.materialize") {
        LinkScore.linkEncoded(mentions, spark.read.parquet(s"$dir/alias_map"))
          .withColumn("bucket", pmod(xxhash64(col("subj")), lit(Buckets)).cast("int"))
          .select(col("doc_id").as("src_doc"), col("span_idx").as("src_span"),
            col("subj_id"), col("pred"), col("obj_id"), col("bucket"))
          .repartition(col("bucket"),
            pmod(xxhash64(col("src_doc"), col("src_span")), lit(1 << SaltBits)))
          .sortWithinPartitions("bucket")
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/triples")
      }
    } finally mentions.unpersist()
    trace.span("pipeline.manifest") {
      val hconf = spark.sparkContext.hadoopConfiguration
      Seq("alias_map", "triples").map { stage =>
        val parts = Manifest.footerStats(s"$dir/$stage", hconf)
        Manifest.write(s"$dir/$stage", StageManifest(stage = stage,
          inputFingerprint = s"layout=${Pipeline.LayoutVersion}|$fp|$stage",
          totalRows = parts.map(_.rows).sum, globalChecksum = 0L,
          partitions = parts, complete = true))
        if (stage == "triples") parts.map(_.bytes).sum else 0L
      }.sum
    }
  }
}

/** One query of the read mix; its expected answer is computed from the
  * oracle triples on the driver, independently of the query compiler. */
sealed trait Query {
  def run(view: DataFrame): DataFrame
  def expected(o: OracleIndex): Set[Seq[String]]
}

object Query {
  private def c(s: String) = Const(s)

  /** rel(s, ?o) — subject-bound point lookup. */
  final case class BySubject(s: String, rel: String) extends Query {
    def run(v: DataFrame): DataFrame =
      QueryBuilder.selectDistinct(v, Seq(Var("o")), Seq(Atom(c(s), c(rel), Var("o"))))
    def expected(o: OracleIndex): Set[Seq[String]] = o.objects(s, rel).map(Seq(_))
  }

  /** worksAt(s, ?t) ∧ isLocatedIn(?t, ?c) — two-hop path. */
  final case class Path(s: String) extends Query {
    def run(v: DataFrame): DataFrame =
      QueryBuilder.selectDistinct(v, Seq(Var("c")), Seq(
        Atom(c(s), c("worksAt"), Var("t")), Atom(Var("t"), c("isLocatedIn"), Var("c"))))
    def expected(o: OracleIndex): Set[Seq[String]] =
      o.objects(s, "worksAt").flatMap(t => o.objects(t, "isLocatedIn")).map(Seq(_))
  }

  /** rel(?s, obj) — object-bound lookup; head-entity objects fan out. */
  final case class ByObject(rel: String, obj: String) extends Query {
    def run(v: DataFrame): DataFrame =
      QueryBuilder.selectDistinct(v, Seq(Var("s")), Seq(Atom(Var("s"), c(rel), c(obj))))
    def expected(o: OracleIndex): Set[Seq[String]] = o.subjects(rel, obj).map(Seq(_))
  }

  /** Per-subject fact counts of one relation — a full relation scan. */
  final case class CountScan(rel: String) extends Query {
    def run(v: DataFrame): DataFrame =
      Ops.countBindings(v, Var("s"), Seq(Atom(Var("s"), c(rel), Var("o"))))
    def expected(o: OracleIndex): Set[Seq[String]] =
      o.subjectCounts(rel).map { case (s, n) => Seq(s, n.toString) }.toSet
  }

  /** A seeded pool per query kind, `perKind` distinct queries each (count
    * scans: one per relation at most). Object lookups draw half their
    * objects from the head entities. */
  def pool(seed: Long, nEnt: Int, perKind: Int): Seq[IndexedSeq[Query]] = {
    val rng  = new scala.util.Random(seed * 31 + 7)
    val rels = Corpus.relations
    def rel() = rels(rng.nextInt(rels.size))
    def entity(headShare: Double): String = Corpus.canonicalAlias(
      if (rng.nextDouble() < headShare) rng.nextInt(math.min(Corpus.HeadEntities, nEnt))
      else rng.nextInt(nEnt))
    def distinct(n: Int)(gen: => Query): IndexedSeq[Query] = {
      val out = scala.collection.mutable.LinkedHashSet[Query]()
      while (out.size < n) out += gen
      out.toIndexedSeq
    }
    Seq(
      distinct(perKind)(BySubject(entity(0.0), rel())),
      distinct(perKind)(Path(entity(0.0))),
      distinct(perKind)(ByObject(rel(), entity(0.5))),
      distinct(math.min(perKind, rels.size))(CountScan(rel())))
  }
}

/** Driver-side index over the oracle's (subj, pred, obj) multiset. */
final class OracleIndex(facts: Seq[((String, String, String), Long)]) {
  private val bySP = facts.groupBy(f => (f._1._1, f._1._2)).map { case (k, v) => k -> v.map(_._1._3).toSet }
  private val byPO = facts.groupBy(f => (f._1._2, f._1._3)).map { case (k, v) => k -> v.map(_._1._1).toSet }
  private val counts = facts.groupBy(_._1._2).map { case (p, v) =>
    p -> v.groupBy(_._1._1).map { case (s, xs) => s -> xs.map(_._2).sum } }
  def objects(s: String, p: String): Set[String]  = bySP.getOrElse((s, p), Set.empty)
  def subjects(p: String, o: String): Set[String] = byPO.getOrElse((p, o), Set.empty)
  def subjectCounts(p: String): Map[String, Long]  = counts.getOrElse(p, Map.empty)
}
