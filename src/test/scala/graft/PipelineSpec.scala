package graft

import graft.pipeline._
import graft.plans.{ConnectedComponents, DriverRegime}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end KG-construction tests: span-sequence invariant, P/R vs the
  * reference-oracle extraction, CC correctness, resumability. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val V = 50
  private val D = 1000L

  test("corpus is deterministic and partitioning-independent") {
    val a = Corpus.generate(spark, D, V).collect().sortBy(_.doc_id)
    val b = Corpus.generate(spark, D, V).repartition(13).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    assert(a.length == D)
  }

  test("span-sequence invariant: (kind, text, media_ref, order) survives the pipeline") {
    val docs = Corpus.generate(spark, 200, V)
    val dir  = Files.createTempDirectory("graft-inv").toString
    new Pipeline(spark, dir, nBuckets = 4).run(docs)
    // The pipeline never rewrites docs; re-read the same deterministic
    // input and compare the full span sequence per row.
    val before = docs.collect().map(d => d.doc_id ->
      d.spans.zipWithIndex.map { case (s, i) => (s.kind, s.text, s.media_ref, i) }).toMap
    val after = Corpus.generate(spark, 200, V).collect().map(d => d.doc_id ->
      d.spans.zipWithIndex.map { case (s, i) => (s.kind, s.text, s.media_ref, i) }).toMap
    assert(before == after)
    // and the oracle's re-parse sees every text span at its original index
    val doc0 = docs.filter($"doc_id" === "doc0").collect()(0)
    assert(doc0.spans.map(_.offset) == doc0.spans.map(_.offset).sorted)
  }

  test("connected components: alias graph resolves to per-entity components") {
    val edges = Seq(
      ("E_5", "k1:e_5"), ("e_5", "k1:e_5"),
      ("E_5", "k2:e5"), ("e_5", "k2:e5"), ("E 5", "k2:e5"),
      ("E 5", "k1:e 5"),
      ("E_7", "k2:e7"), ("e_7", "k2:e7")).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges)
      .where(!$"id".startsWith("k"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("E_5") == comp("e_5") && comp("e_5") == comp("E 5"))
    assert(comp("E_7") == comp("e_7"))
    assert(comp("E_5") != comp("E_7"))
  }

  test("connected components: chain graph (worst case for label propagation)") {
    val n = 64
    val edges = (0 until n - 1).map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges).collect()
    assert(comp.length == n)
    assert(comp.map(_.getString(1)).distinct.toSeq == Seq("n000"))
  }

  test("driver regime: probe returns the rows at the ceiling, None one row above it") {
    for ((ceiling, n) <- Seq(0 -> 0, 0 -> 1, 5 -> 5, 5 -> 6)) {
      val df = (1 to n).toDF("v")
      val got = DriverRegime.probe(df, ceiling)
      assert(got.map(_.map(_.getInt(0)).toSeq.sorted) ==
        Option.when(n <= ceiling)((1 to n).toSeq), s"ceiling $ceiling, $n rows")
      assert(DriverRegime.fits(n, ceiling) == got.nonEmpty)
    }
  }

  test("alias map: driver union-find and distributed CC paths agree") {
    val corpus = MentionDetect.mentions(Corpus.generate(spark, 500, 80).toDF())
    // non-BMP next to U+E000-U+FFFF, each in several case and separator forms
    val bases = Seq("\uFFFF", "\uD83D\uDE00", "\uE000", "\uD83D\uDE00\uFFFF", "\uFFFF\uD83D\uDE00",
      "Ent", "\u00C9nt")
    val forms = for (b <- bases; i <- 0 until 3; f <- Seq(s"${b}_$i", s"$b $i", s"${b.toLowerCase}$i"))
      yield f
    val adversarial = forms.zip(forms.reverse).toDF("subj_alias", "obj_alias")
    for (mentions <- Seq(corpus, adversarial)) {
      val drv  = Canonicalize.aliasMap(mentions).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val dist = Canonicalize.aliasMap(mentions, driverThreshold = 0).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(drv == dist)
      assert(drv.nonEmpty)
    }
  }

  test("connected components: star rounds == label-propagation oracle in UTF-8 order") {
    val rng = new scala.util.Random(7)
    // U+FFFF vs U+1F600: UTF-16 code-unit order and Spark's UTF-8 byte
    // order (the rounds' least/min) pick different roots
    val es = (1 to 300).map(_ => (s"v${rng.nextInt(120)}", s"v${rng.nextInt(120)}"))
      .filter { case (a, b) => a != b } :+ ("\uFFFF", "\uD83D\uDE00")
    val got = ConnectedComponents.run(es.toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // every node takes the least label over its edges until none changes
    def least(a: String, b: String) = if (DriverRegime.utf8Lt(b, a)) b else a
    var label = es.flatMap { case (a, b) => Seq(a -> a, b -> b) }.toMap
    var prev  = Map.empty[String, String]
    while (label != prev) {
      prev = label
      label = es.foldLeft(label) { case (l, (a, b)) =>
        val m = least(l(a), l(b)); l + (a -> m) + (b -> m) }
    }
    assert(got == label)
    assert(got("\uD83D\uDE00") == "\uFFFF")
  }

  test("entity dictionary: scalable ranks == global row_number (skewed, multi-partition)") {
    // entityDictionary rides Dictionary.sortedRanks (bounded window
    // partitions); the invariant an external oracle checks is equality
    // with the naive single-partition `row_number() OVER (ORDER BY ...)`
    val rng = new scala.util.Random(11)
    val vocab = (1 to 2000).map(_ => s"ent_${rng.nextInt(700)}")
    val best = vocab.map(c => (s"alias of $c", c)).toDF("alias", "canonical")
      .repartition(17)
    val got = LinkScore.entityDictionary(best).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = vocab.distinct.sorted.zipWithIndex
      .map { case (c, i) => c -> (i + 1L) }.toMap
    assert(got == want)
  }

  test("pipeline triples == oracle extraction (P = R = 1.0)") {
    val docs = Corpus.generate(spark, D, V)
    val dir  = Files.createTempDirectory("graft-pr").toString
    val p    = new Pipeline(spark, dir, nBuckets = 4)
    p.run(docs)
    val got = p.triples().select("subj", "pred", "obj").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = docs.collect().flatMap(Corpus.oracleTriples).toSet
    val tp = (got intersect want).size.toDouble
    val precision = tp / got.size
    val recall    = tp / want.size
    assert(precision == 1.0, s"precision $precision; spurious: ${(got -- want).take(5)}")
    assert(recall == 1.0, s"recall $recall; missing: ${(want -- got).take(5)}")
  }

  test("P/R holds at 20x scale with a 10x vocabulary") {
    val docs = Corpus.generate(spark, 20000, 500)
    val dir  = Files.createTempDirectory("graft-pr-big").toString
    val p    = new Pipeline(spark, dir, nBuckets = 8)
    p.run(docs, inputFp = Some("prbig:20000:500"))
    val got = p.triples().select("subj", "pred", "obj").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = docs.collect().flatMap(Corpus.oracleTriples).toSet
    val tp = (got intersect want).size.toDouble
    assert(tp / got.size == 1.0 && tp / want.size == 1.0,
      s"P=${tp / got.size} R=${tp / want.size}")
  }

  test("pipeline keeps lineage and is resumable from checkpoint manifests") {
    val docs = Corpus.generate(spark, 300, V)
    val dir  = Files.createTempDirectory("graft-resume").toString

    val p1 = new Pipeline(spark, dir, nBuckets = 4)
    p1.run(docs)
    assert(p1.runsExecuted.toSet == Set("mentions", "alias_map", "triples"))

    // lineage columns present; manifest complete with partition counters
    val t = spark.read.parquet(s"$dir/triples")
    assert(Seq("src_doc", "src_span", "bucket").forall(t.columns.contains))
    val m = Manifest.read(s"$dir/triples").get
    assert(m.complete && m.totalRows == t.count())

    // second run: everything skipped
    val p2 = new Pipeline(spark, dir, nBuckets = 4)
    p2.run(docs)
    assert(p2.runsExecuted.isEmpty)
    assert(p2.runsSkipped.toSet == Set("mentions", "alias_map", "triples"))

    // corrupt one manifest → only that stage (and dependents sharing its
    // fingerprint chain) recomputes
    Files.delete(java.nio.file.Paths.get(s"$dir/triples/_manifest.json"))
    val p3 = new Pipeline(spark, dir, nBuckets = 4)
    p3.run(docs)
    assert(p3.runsExecuted == List("triples"))
  }

  /** A workDir with all three stages written under the input fingerprint `finishedFp`. */
  private val finishedFp = "finished:300 \"q\" C:\\x\t\u0001"
  private lazy val finishedDir: String = {
    val dir = Files.createTempDirectory("graft-finished").toString
    new Pipeline(spark, dir, nBuckets = 4).run(Corpus.generate(spark, 300, V), Some(finishedFp))
    dir
  }

  test("a fully resumed run starts no Spark job") {
    val p = new Pipeline(spark, finishedDir, nBuckets = 4)
    val (_, jobs) = JobCounter(spark)(p.run(Corpus.generate(spark, 300, V), Some(finishedFp)))
    assert(p.runsSkipped.toSet == Set("mentions", "alias_map", "triples"))
    assert(jobs == 0, s"$jobs jobs to resume a finished run")
  }

  test("declared stage schemas equal the schemas inferred from the written stages") {
    for ((stage, declared) <- Seq("mentions" -> Pipeline.MentionsSchema,
        "alias_map" -> Pipeline.AliasMapSchema, "triples" -> Pipeline.TriplesSchema))
      assert(spark.read.parquet(s"$finishedDir/$stage").schema == declared, stage)
  }

  test("resume key covers doc content: an edited span under the same doc_id recomputes") {
    val docs = Corpus.generate(spark, 200, V).collect().toSeq
    val dir  = Files.createTempDirectory("graft-resume-edit").toString
    new Pipeline(spark, dir, nBuckets = 4).run(spark.createDataset(docs))
    // rewrite the first text span of one doc, keeping every doc_id
    val at = docs.indexWhere(_.spans.exists(_.kind == "text"))
    val k  = docs(at).spans.indexWhere(_.kind == "text")
    val edited = docs.updated(at, docs(at).copy(spans =
      docs(at).spans.updated(k, docs(at).spans(k).copy(text = Some("e_3 worksAt E_4.")))))
    val p = new Pipeline(spark, dir, nBuckets = 4)
    p.run(spark.createDataset(edited))
    assert(p.runsExecuted.toSet == Set("mentions", "alias_map", "triples"))
    val got = p.triples().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(got == edited.flatMap(Corpus.oracleTriples).sorted)
  }

  test("a finished run leaves no manifest-writer thread alive") {
    val dir = Files.createTempDirectory("graft-threads").toString
    new Pipeline(spark, dir, nBuckets = 4).run(Corpus.generate(spark, 100, V))
    import scala.jdk.CollectionConverters._
    val writers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "graft-manifest").toSeq
    // a terminated pool's worker may still be unwinding; an idle one never exits
    writers.foreach(_.join(5000))
    assert(writers.forall(!_.isAlive), s"${writers.count(_.isAlive)} live graft-manifest threads")
  }

  test("salted materialize spreads a pathological head entity across write tasks") {
    // 90% of all mentions share ONE subject — the skew shape the north
    // rule requires the pipeline to survive. The storage layout is
    // bucketed by subject hash, so the hot entity's BUCKET is large by
    // design; the salt must spread its rows across multiple shuffle
    // partitions (= write tasks = files), or one task would own the
    // whole bucket at 10^12-doc scale.
    val hot  = "HotEntity"
    val docs = (0 until 2000).map { i =>
      val subj = if (i % 10 == 0) s"e_${i % 7}" else hot
      Doc(s"skew$i", Seq(Span("text", Some(s"$subj livesIn city_${i % 5}."), None, 0)))
    }
    val ds  = spark.createDataset(docs)(org.apache.spark.sql.Encoders.product[Doc])
    val dir = Files.createTempDirectory("graft-skew").toString
    val p   = new Pipeline(spark, dir, nBuckets = 4)
    // at toy row counts AQE rightly coalesces the salted partitions back
    // into one (they are far below the advisory size); disable coalescing
    // here so the salt's spread — the property that matters when the hot
    // bucket is tens of GB — is observable in the file layout
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      p.run(ds, inputFp = Some("skew:2000"))
    } finally spark.conf.set(coalesceKey, prev)
    val hotBucket = p.materialized().where($"subj" === hot)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    assert(hotBucket.size == 1)
    val files = new java.io.File(s"$dir/triples/bucket=${hotBucket.head}")
      .listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2,
      s"hot bucket written by ${files.length} task(s) — salt did not spread the skew")
  }

  test("materialized layout is hash-bucketed by subject") {
    val docs = Corpus.generate(spark, 300, V)
    val dir  = Files.createTempDirectory("graft-layout").toString
    val p    = new Pipeline(spark, dir, nBuckets = 4)
    p.run(docs)
    // the stored table is entity-id-encoded; the bucket is the hash of
    // the DECODED subject (so consumers can compute it from entity names)
    val t = p.materialized()
    val bad = t.where(pmod(xxhash64($"subj"), lit(4)).cast("int") =!= $"bucket").count()
    assert(bad == 0)
    // directory-partitioned: bucket dirs exist → later scans prune on bucket
    val dirs = new java.io.File(s"$dir/triples").listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket="))
    assert(dirs.nonEmpty)
  }
}
