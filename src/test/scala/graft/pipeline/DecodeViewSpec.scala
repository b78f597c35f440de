package graft.pipeline

import graft.{JobCounter, SparkTestSession}
import graft.expressions.EntityDecode
import graft.kb.{Atom, Const, QueryBuilder, Var}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The decoded view of [[Pipeline.materialized]]: the driver-resident and
  * the distributed entity catalog decode to the same rows, the per-run
  * memo follows every run, and a built view costs queries no extra jobs. */
class DecodeViewSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Row6 = (String, String, String, String, Int, Int)

  private def rows(view: DataFrame): Seq[Row6] =
    view.select("subj", "pred", "obj", "src_doc", "src_span", "bucket").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5))).toSeq.sorted

  private def spo(view: DataFrame): Seq[(String, String, String)] =
    view.select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  private def oracle(docs: Dataset[Doc]): Seq[(String, String, String)] =
    docs.collect().toSeq.flatMap(Corpus.oracleTriples).sorted

  /** The catalog is held on the driver iff the view's plan decodes by lookup. */
  private def driverCatalog(view: DataFrame): Boolean =
    view.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[EntityDecode])))

  /** The (collected) view's executed plan decodes with no join and no
    * broadcast exchange. */
  private def assertNoJoin(view: DataFrame): Unit = {
    val plan = view.queryExecution.executedPlan
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"join in\n$plan")
    assert(collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty,
      s"broadcast exchange in\n$plan")
  }

  private def workDir(tag: String) = Files.createTempDirectory(s"graft-decode-$tag").toString

  test("decode: driver and distributed catalogs agree, incl. non-BMP and U+E000-U+FFFF canonicals") {
    // each base has a "_" and a " " surface form, which canonicalize to the
    // " " one; U+FFFF and U+1F600 order one way in UTF-8 bytes and the
    // other way in UTF-16 code units
    val bases = Seq("\uFFFF", "\uD83D\uDE00", "\uE000", "ent", "\u00C9nt")
    val rels  = Corpus.relations
    val rng   = new scala.util.Random(3)
    val facts = (0 until 240).map { i =>
      val (s, o) = (rng.nextInt(bases.size), rng.nextInt(bases.size))
      def form(b: Int) = s"${bases(b)}${if (rng.nextBoolean()) "_" else " "}$b"
      (s"doc$i", form(s), rels(i % rels.size), form(o))
    }
    val docs = spark.createDataset(facts.map { case (id, s, r, o) =>
      Doc(id, Seq(Span("media", None, Some(s"m://$id"), 0), Span("text", Some(s"$s $r $o."), None, 16)))
    })
    val p = new Pipeline(spark, workDir("adversarial"), nBuckets = 4)
    p.run(docs)
    val driver = p.materialized()
    val dist   = p.decoded(driverThreshold = 0)._1
    assert(driverCatalog(driver) && !driverCatalog(dist))
    assert(rows(driver) == rows(dist))
    assertNoJoin(driver)
    val want = facts.map { case (_, s, r, o) => (s.replace('_', ' '), r, o.replace('_', ' ')) }.sorted
    assert(spo(driver) == want)
  }

  test("decode: a workDir without the alias_map manifest takes the distributed catalog") {
    val docs = Corpus.generate(spark, 400, 60)
    val dir  = workDir("no-manifest")
    val p    = new Pipeline(spark, dir, nBuckets = 4)
    p.run(docs)
    val driver = p.materialized()
    assert(driverCatalog(driver))
    Files.delete(Paths.get(s"$dir/alias_map/_manifest.json"))
    val view = new Pipeline(spark, dir, nBuckets = 4).materialized()
    assert(!driverCatalog(view))
    assert(rows(view) == rows(driver))
    assert(spo(view) == oracle(docs))
  }

  test("decode: sparse catalog ids and an orphan triple decode alike in both regimes") {
    // a hand-written workDir: catalog ids far from 1..n, two aliases of one
    // entity, and a triple whose object id is in no catalog row
    val dir = workDir("sparse")
    val catalog = Seq(("a", "A", 7L), ("a2", "A", 7L), ("b", "B", 1000003L),
      ("c", "C", Long.MaxValue), ("d", "D", -5L))
    spark.createDataFrame(catalog).toDF("alias", "canonical", "entity_id")
      .write.parquet(s"$dir/alias_map")
    Manifest.write(s"$dir/alias_map", StageManifest("alias_map", "hand-written",
      totalRows = catalog.size, globalChecksum = 0L, partitions = Nil, complete = true))
    val facts = Seq(("d0", 0, 7L, "r", 1000003L, 0), ("d1", 1, Long.MaxValue, "r", -5L, 1),
      ("d2", 2, -5L, "s", 7L, 1), ("d3", 3, 7L, "s", 8L, 2))
    spark.createDataFrame(facts)
      .toDF("src_doc", "src_span", "subj_id", "pred", "obj_id", "bucket")
      .write.partitionBy("bucket").parquet(s"$dir/triples")
    val p      = new Pipeline(spark, dir, nBuckets = 4)
    val driver = p.materialized()
    val dist   = p.decoded(driverThreshold = 0)._1
    assert(driverCatalog(driver) && !driverCatalog(dist))
    val want = Seq(("A", "r", "B", "d0", 0, 0), ("C", "r", "D", "d1", 1, 1),
      ("D", "s", "A", "d2", 2, 1))
    assert(rows(driver) == want)
    assert(rows(dist) == want)
  }

  test("memo: triples() follows a re-run on other docs; a resumed workDir decodes the same") {
    val docsA = Corpus.generate(spark, 300, 40)
    val docsB = Corpus.generate(spark, 250, 70, seed = 9L)
    val dir   = workDir("memo")
    val p     = new Pipeline(spark, dir, nBuckets = 4)
    p.run(docsA, inputFp = Some("memo:a"))
    assert(spo(p.triples()) == oracle(docsA))
    p.run(docsB, inputFp = Some("memo:b"))
    assert(p.runsExecuted.count(_ == "triples") == 2)
    val graphB = spo(p.triples())
    assert(graphB == oracle(docsB))
    // a resumed re-run drops the memo; a view taken before it still collects
    val before = p.materialized()
    p.run(docsB, inputFp = Some("memo:b"))
    assert(p.materialized() ne before)
    assert(spo(before) == graphB)
    val resumed = new Pipeline(spark, dir, nBuckets = 4)
    resumed.run(docsB, inputFp = Some("memo:b"))
    assert(resumed.runsExecuted.isEmpty)
    assert(spo(resumed.triples()) == graphB)
  }

  test("job budget: a second triples() starts no job; a subject-bound lookup collects in at most 2") {
    val docs = Corpus.generate(spark, 300, 40)
    val p    = new Pipeline(spark, workDir("jobs"), nBuckets = 4)
    p.run(docs)
    p.triples()
    val (_, viewJobs) = JobCounter(spark)(p.triples())
    assert(viewJobs == 0, s"$viewJobs jobs")
    val (subj, rel) = ("E 1", "worksAt")
    val (answer, queryJobs) = JobCounter(spark) {
      QueryBuilder.selectDistinct(p.triples(), Seq(Var("o")),
        Seq(Atom(Const(subj), Const(rel), Var("o")))).collect()
    }
    assert(queryJobs <= 2, s"$queryJobs jobs")
    val want = oracle(docs).collect { case (`subj`, `rel`, o) => o }.toSet
    assert(want.nonEmpty && answer.map(_.getString(0)).toSet == want)
  }

  test("job budget: building the view over a finished workDir starts at most 1 job (the catalog scan)") {
    val docs = Corpus.generate(spark, 300, 40)
    val dir  = workDir("schema")
    new Pipeline(spark, dir, nBuckets = 4).run(docs)
    // the declared stage schemas are the ones the stages write
    def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq.sortBy(_._1)
    def inferred(stage: String) = fields(spark.read.parquet(s"$dir/$stage").schema)
    assert(inferred("alias_map") == fields(Pipeline.AliasMapSchema))
    assert(inferred("triples") == fields(Pipeline.TriplesSchema))
    val fresh = new Pipeline(spark, dir, nBuckets = 4)
    val (view, jobs) = JobCounter(spark)(fresh.materialized())
    assert(jobs <= 1, s"$jobs jobs")
    assert(spo(view) == oracle(docs))
  }
}
