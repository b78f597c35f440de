package graft

import graft.kb._
import graft.pipeline.{Corpus, LinkScore, MentionDetect, Pipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan assertions: the scale properties we claim (predicate
  * pushdown to the parquet scan, broadcast joins for vocabulary-sized
  * tables, partition pruning on the subject-hash bucket, whole-stage
  * codegen on the hot paths) must be visible in `explain`, not assumed. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val pipeline: Pipeline = {
    val dir = Files.createTempDirectory("graft-plan").toString
    val p   = new Pipeline(spark, dir, nBuckets = 4)
    p.run(Corpus.generate(spark, 500, 50), inputFp = Some("plan:500:50"))
    p
  }
  private lazy val workDir: String = pipeline.workDir

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown: relation filter reaches the parquet scan through the decoded view") {
    // `pred` is a physical column of the encoded table, so a relation
    // filter on the DECODED view must still be pushed to the scan — the
    // property that keeps per-relation mining reads from scanning the
    // whole graph table
    val df = pipeline.materialized()
      .where(col("pred") === "livesIn").select("subj", "obj")
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("PushedFilters") &&
      p.contains("IsNotNull(pred)") && p.contains("EqualTo(pred,livesIn)"),
      s"filters not pushed:\n$p")
    // column pruning: the fact-table scan must not read lineage columns
    val factScan = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("subj_id")).mkString
    assert(factScan.nonEmpty && !factScan.contains("src_doc"),
      s"scan reads more columns than the projection needs:\n$p")
  }

  test("bucket partition pruning: a subject-hash bucket filter prunes directories") {
    val t = spark.read.parquet(s"$workDir/triples")
    val pruned = t.where(col("bucket") === 2)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"),
      s"no partition filter on bucket:\n$scan")
  }

  test("link scoring uses broadcast joins, not shuffles, for the candidate table") {
    val docs     = Corpus.generate(spark, 200, 50).toDF()
    val mentions = MentionDetect.mentions(docs)
    val aliasMap = graft.pipeline.Canonicalize.aliasMap(mentions)
    val dict     = LinkScore.aliasDictionary(LinkScore.bestCandidates(aliasMap))
    val p        = plan(LinkScore.linkEncoded(mentions, dict))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"mention stream must not shuffle-join:\n$p")
  }

  test("stats pass is a single hash aggregation inside whole-stage codegen") {
    val t  = pipeline.triples()
    val df = KGStats.relationCounts(t)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate"))
    // formatted explain marks codegen'd operators with "[codegen id : n]"
    assert(p.contains("codegen id"), s"stats pass fell out of codegen:\n$p")
  }

  test("fused rule scoring is one plan: body scanned once, markers broadcastable") {
    val t = pipeline.triples()
    val m = new graft.mine.Metrics(t, KGStats.compute(t))
    val r = graft.mine.Rule(
      Atom(Var("x"), Const("livesIn"), Var("c")),
      List(Atom(Var("x"), Const("worksAt"), Var("t")),
        Atom(Var("t"), Const("isLocatedIn"), Var("c"))))
    val s = m.score(r)
    assert(s.support > 0)
    // the single fused aggregation must produce all three counts
    assert(s.bodySize >= s.support && s.pcaBodySize >= s.support)
  }

  test("conjunctive query compiles to one declarative join plan (no cartesian)") {
    val t = pipeline.triples()
    val df = QueryBuilder.bindings(t, Seq(
      Atom(Var("x"), Const("worksAt"), Var("t")),
      Atom(Var("t"), Const("isLocatedIn"), Var("c"))))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("stats hints: hub join broadcasts the small atom and repartitions the fan-out stream") {
    import spark.implicits._
    // 1000 member facts + 100 flag facts meeting on a 10-value hub: the
    // estimated join output (1000×100/10 = 10k) exceeds both inputs 10×,
    // and the flag atom fits the broadcast envelope
    val t = ((1 to 1000).map(i => (s"e$i", "memberOf", s"h${i % 10}")) ++
      (1 to 100).map(i => (s"f$i", "flagOf", s"h${i % 10}")))
      .toDF("subj", "pred", "obj").cache()
    val st = KGStats.compute(t)
    val atoms = Seq(
      Atom(Var("x"), Const("memberOf"), Var("h")),
      Atom(Var("y"), Const("flagOf"), Var("h")))
    val hinted = QueryBuilder.bindings(t, atoms, Some(st))
    val p      = plan(hinted)
    // broadcast hint: must not fall to a sort-merge join on the
    // low-cardinality hub key (parallelism ≤ #hubs + skew at scale)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast despite stats hint:\n$p")
    assert(!p.contains("SortMergeJoin"), s"hub join fell to sort-merge:\n$p")
    // fan-out guard: the small stream side must carry an explicit
    // repartition so downstream parallelism never collapses to its
    // (possibly single-split) input layout
    assert(p.contains("RoundRobinPartitioning"), s"no fan-out repartition:\n$p")
    // the hints are plan-only: result set identical to the unhinted plan
    val unhinted = QueryBuilder.bindings(t, atoms, None)
    assert(hinted.select("x", "y", "h").distinct().count() ==
      unhinted.select("x", "y", "h").distinct().count())
    t.unpersist(blocking = false)
  }

  test("existential dedup: witness variable projected away, distinct image unchanged") {
    val t     = pipeline.triples()
    val stats = Some(KGStats.compute(t))
    // the miner's dangling-template shape: fresh z joins nothing else and
    // is not counted — the compiled frame must not even carry its column
    // (the witness fan-out is pre-aggregated below the join,
    // KB.java:1793-1835 parity)
    val atoms = Seq(
      Atom(Var("x"), Const("worksAt"), Var("y")),
      Atom(Var("z"), Var("cand"), Var("y")))
    val deduped = QueryBuilder.distinctableBindings(t, atoms,
      Set("x", "y", "cand"), stats)
    assert(!deduped.columns.contains("z"),
      s"existential variable survived: ${deduped.columns.mkString(",")}")
    val exact = QueryBuilder.bindings(t, atoms, stats)
    assert(deduped.select("x", "y", "cand").distinct()
      .exceptAll(exact.select("x", "y", "cand").distinct()).isEmpty &&
      exact.select("x", "y", "cand").distinct()
        .exceptAll(deduped.select("x", "y", "cand").distinct()).isEmpty,
      "dedup changed the distinct image")
    // a pseudo-atom reference keeps the variable (it is read elsewhere)
    val guarded = QueryBuilder.distinctableBindings(t,
      atoms :+ Atom(Var("z"), Const(Atom.DifferentFrom), Var("x")),
      Set("x", "y", "cand"), stats)
    assert(guarded.columns.contains("z"),
      "variable referenced by a pseudo-atom must not be projected away")
    // an atom whose every variable is existential degrades to a gate:
    // same distinct image, no columns leaked
    val gated = QueryBuilder.distinctableBindings(t,
      Seq(Atom(Var("x"), Const("worksAt"), Var("y")),
        Atom(Var("p"), Const("livesIn"), Var("q"))),
      Set("x", "y"), stats)
    assert(gated.columns.sorted.toSeq == Seq("x", "y"),
      s"gate leaked columns: ${gated.columns.mkString(",")}")
    // livesIn is non-empty in this corpus, so the gate passes everything
    val base = QueryBuilder.bindings(t,
      Seq(Atom(Var("x"), Const("worksAt"), Var("y"))), stats)
    assert(gated.select("x", "y").distinct().count() ==
      base.select("x", "y").distinct().count())
  }

  test("connected-subgraph existential dedup: witness CHAIN collapsed to a semi-join (KB.java:3026-3058)") {
    val t     = pipeline.triples()
    val stats = Some(KGStats.compute(t))
    // worksAt(x, y) with a 2-atom witness chain hanging off y: the chain's
    // internal variable z and tail w occur in ≥2 / 1 atoms respectively —
    // the r4 per-atom dedup keeps z (occ 2), so only the component rewrite
    // removes the whole chain's fan-out. Neither column may survive.
    val atoms = Seq(
      Atom(Var("x"), Const("worksAt"), Var("y")),
      Atom(Var("y"), Const("isLocatedIn"), Var("z")),
      Atom(Var("z2"), Const("livesIn"), Var("z")))
    val deduped = QueryBuilder.distinctableBindings(t, atoms, Set("x", "y"), stats)
    assert(!deduped.columns.contains("z") && !deduped.columns.contains("z2"),
      s"witness-chain variables survived: ${deduped.columns.mkString(",")}")
    val exact = QueryBuilder.bindings(t, atoms, stats)
    assert(deduped.select("x", "y").distinct()
      .exceptAll(exact.select("x", "y").distinct()).isEmpty &&
      exact.select("x", "y").distinct()
        .exceptAll(deduped.select("x", "y").distinct()).isEmpty,
      "component rewrite changed the distinct image")
    // the component table joins DEDUPLICATED: an Aggregate sits below the
    // final join in the optimized plan (semi-join shape, not fan-out)
    val opt = deduped.queryExecution.optimizedPlan
    val aggsBelowJoin = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.children.exists(_.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
          }.isDefined) => j
    }
    assert(aggsBelowJoin.nonEmpty,
      s"no pre-join dedup in the optimized plan:\n$opt")
    // a NO-anchor multi-atom chain (disconnected from the counted side)
    // degrades to a satisfiability gate — no columns leaked, image kept
    val gated2 = QueryBuilder.distinctableBindings(t,
      Seq(Atom(Var("x"), Const("worksAt"), Var("y")),
        Atom(Var("p"), Const("livesIn"), Var("q")),
        Atom(Var("q"), Const("isLocatedIn"), Var("s2"))),
      Set("x"), stats)
    // (y occurs once and is not kept, so the per-atom dedup drops it too)
    assert(gated2.columns.sorted.toSeq == Seq("x"),
      s"chain gate leaked columns: ${gated2.columns.mkString(",")}")
    val baseX = QueryBuilder.bindings(t,
      Seq(Atom(Var("x"), Const("worksAt"), Var("y"))), stats)
    assert(gated2.select("x").distinct().count() ==
      baseX.select("x").distinct().count())
  }
}
