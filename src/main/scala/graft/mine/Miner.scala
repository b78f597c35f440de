package graft.mine

import graft.kb._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Metric driving the per-level significance threshold (the reference's
  * `-pm` selector, mining/src/main/java/amie/mining/utils/AMIEOptions.java:48
  * and AMIE.java:457-467 getCountThreshold). The reference picks exactly one
  * of support/headcoverage; [[PruningMetric.Both]] is this engine's stricter
  * default (max of the two), equal to either reference mode when the other
  * threshold sits at its no-op floor. */
sealed trait PruningMetric
object PruningMetric {
  case object Support      extends PruningMetric
  case object HeadCoverage extends PruningMetric
  case object Both         extends PruningMetric
}

/**
 * AMIE mining configuration — defaults mirror the reference
 * (mining/src/main/java/amie/mining/AMIE.java:52-75, Parameters.txt):
 * minHC 0.01, PCA 0.1, max 3 atoms; absolute support is scale-dependent
 * (reference default 100) so it is a required knob here.
 */
final case class MinerConfig(
    minSupport: Long = 100,
    /** support threshold applied to the INITIAL seed atoms only
      * (AMIEOptions -minis); negative = use minSupport. */
    minInitialSupport: Long = -1L,
    minHeadCoverage: Double = 0.01,
    minPcaConfidence: Double = 0.1,
    minStdConfidence: Double = 0.0,
    maxDepth: Int = 3,
    enableConstants: Boolean = false,
    /** type-I confidence upper-bound pruning (MA:988-1023) — skip exact
      * metric computation for rules whose cheap bound already fails the
      * thresholds. Pure optimization: never changes emitted rules. */
    enableConfidenceBounds: Boolean = false,
    /** functionality-heuristic PCA estimation for 3-atom rules
      * (MA:1127-1202, AMIE+ §6.2.2). Unlike the exact bounds this is an
      * ESTIMATE and may over-prune — same trade the reference's `-full`
      * mode makes. */
    enableFunctionalityHeuristic: Boolean = false,
    /** max occurrences of one relation in a rule (recursivity guard,
      * DefaultMiningAssistant.java:212-214). */
    maxRelationOccurrence: Int = 2,
    /** which metric drives the per-level count threshold (AMIEOptions
      * -pm, AMIE.java:458-467 getCountThreshold): Support = the absolute
      * minSupport alone; HeadCoverage = ceil(minHC × headSize) alone.
      * [[PruningMetric.Both]] (engine default) applies the max of the
      * two — identical to either reference mode whenever the other
      * threshold sits at its no-op floor. */
    pruningMetric: PruningMetric = PruningMetric.Both,
    /** restrict mined heads to these relations (AMIEOptions -htr);
      * empty = all relations seed. */
    headTargetRelations: Seq[String] = Nil,
    /** relations banned from rule heads (AMIEOptions -hexr). */
    headExcludedRelations: Set[String] = Set.empty,
    /** relations banned from rule bodies (AMIEOptions -bexr). */
    bodyExcludedRelations: Set[String] = Set.empty,
    /** restrict O_I instantiation to open variables of atoms with these
      * relations (AMIEOptions -itr); empty = all. With the type relation
      * alone this reproduces the typed assistant's B ∧ is(x,C) ∧ is(y,C')
      * rule space (TypedDefaultMiningAssistant.java:25-80). */
    instantiationTargetRelations: Seq[String] = Nil,
    /** relations whose atoms' open variables are never instantiated
      * (AMIEOptions -iexr). */
    instantiationExcludedRelations: Set[String] = Set.empty,
    /** counting/denominator strategy — the assistant-variant surface
      * (MiningAssistantFactory.java:33-90): default, oneVar, lazy,
      * signatured. */
    bias: MiningBias = MiningBias.Default,
    /** O_T type specialization (MiningAssistant.java:902-925; disabled in
      * the reference's default assistant too, DMA:409-411 — opt-in here):
      * a rule whose last body atom is `typeRelation(x, C)` spawns children
      * replacing C with each DIRECT subtype, support re-measured. Supply
      * parent → direct-subtypes via [[graft.kb.Taxonomy.directSubTypes]]. */
    enableTypeSpecialization: Boolean = false,
    typeRelation: String = "rdf:type",
    subTypes: Map[String, Seq[String]] = Map.empty,
    /** the KB contract is a fact SET (the reference dedups on insert,
      * KB.java:334-381); a caller whose input is distinct BY CONSTRUCTION
      * (e.g. dimension rows keyed by a unique id) may skip the miner's
      * defensive dedup shuffle. Metrics are silently wrong if the
      * assertion is false — leave off unless provable. */
    assumeDistinct: Boolean = false)

/**
 * Level-synchronous BFS rule miner — the Spark re-architecture of the
 * reference's multi-threaded queue search (AMIE.java:176-448,
 * AMIEQueue.java:16-133).
 *
 * Key scale decision (SURVEY.md §7.4): the reference issues ONE KB query
 * per candidate refinement; here an entire generation's dangling+closing
 * candidates are counted in ONE Spark job — the candidate relation is
 * left as a *variable* in the new atom, so
 * `bindings(rule.atoms :+ newAtomTemplate).groupBy(candidateRel)
 *  .agg(countDistinct(headVars))` yields the support of every possible
 * extension at once (the reference's countProjectionBindings,
 * KB.java:2599-2786, batched across rules by union + rule_id).
 * Rules themselves stay on the driver (they are tiny); all data-touching
 * work is Catalyst jobs over the cached triples DataFrame.
 */
final class Miner(triples: DataFrame, config: MinerConfig = MinerConfig()) {

  /** The KB is a fact SET (the reference dedups on add, KB.java:334-381)
    * — a constructed graph carries one row per *mention*, so dedup here;
    * and it is scanned by every candidate-counting job of every level —
    * cache it (at cluster scale this is the in-memory columnar copy the
    * reference holds in its six indexes). */
  private val kb =
    (if (config.assumeDistinct) triples else triples.distinct()).cache()
  val stats: KGStats   = KGStats.compute(kb)
  private val metrics  = new Metrics(kb, stats)
  private val candCol  = "__cand_rel" // pred-position variable of the template atom

  /** Existentially-deduped views of the KB for the dangling-template jobs
    * (the fresh variable is counted nowhere, so the template atom reduces
    * to the distinct (relation, join-value) pairs — KB.java:1793-1835).
    * Every dangling template of every level joins one of these two
    * tables, so they are computed ONCE and cached — the Spark analog of
    * the reference's relation2subject/relation2object index permutations
    * (KB.java:57-72). Lazy: depth-2 searches never build them. */
  private var predSubjBuilt = false
  private var predObjBuilt  = false
  private lazy val predSubjIdx = {
    predSubjBuilt = true
    kb.select(col("pred"), col("subj")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }
  private lazy val predObjIdx = {
    predObjBuilt = true
    kb.select(col("pred"), col("obj")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Release the Miner's cached state — the kb copy plus any index view
    * the search materialized. [[mine]] calls this on return, so a
    * long-lived session constructing many Miners (the bench constructs
    * one per mining query attempt) does not accumulate cached plans for
    * the life of the session (r4 verdict). Idempotent; a closed Miner
    * still answers mine() correctly, just without the caches. */
  def close(): Unit = {
    kb.unpersist()
    if (predSubjBuilt) predSubjIdx.unpersist()
    if (predObjBuilt) predObjIdx.unpersist()
  }
  private lazy val predSubjRows = stats.relations.values.map(_.distinctSubj).sum
  private lazy val predObjRows  = stats.relations.values.map(_.distinctObj).sum

  /** Search node: rule + best PCA confidence among output ancestors
    * (skyline pruning floor, MiningAssistant.java:1212-1272) + the
    * support measured when the rule was generated (for bound pruning). */
  private final case class Node(rule: Rule, ancestorConf: Double, supportHint: Long = -1L)

  private def headRel(r: Rule): String =
    r.head.p match { case Const(p) => p; case _ => "" }

  private val bias = config.bias
  private def countVarsOf(r: Rule): Seq[Var] = bias.countVars(metrics, r)

  /** Head cardinality for thresholds/coverage: the plain relation size,
    * or the count-constrained size when the bias restricts counts (the
    * reference registers seedsCardinality as the head cardinality,
    * SeedsCountMiningAssistant.java:100-110). Computed once per relation. */
  private val headSizeCache = scala.collection.mutable.Map[String, Long]()
  private def headSizeOf(rel: String): Long = {
    val seedRule = Rule(Atom(Var("x"), Const(rel), Var("y")), Nil)
    val cc = bias.countConstraints(metrics, seedRule)
    if (cc.isEmpty) stats.size(rel)
    else headSizeCache.getOrElseUpdate(rel,
      QueryBuilder.countDistinctBindings(kb, countVarsOf(seedRule), seedRule.head :: cc))
  }

  /** Per-head-relation count threshold, selected by the pruning metric
    * (AMIE.java:457-467 getCountThreshold; -pm). */
  private def supportThreshold(rel: String): Long = config.pruningMetric match {
    case PruningMetric.Support      => config.minSupport
    case PruningMetric.HeadCoverage => math.ceil(config.minHeadCoverage * headSizeOf(rel)).toLong
    case PruningMetric.Both =>
      math.max(config.minSupport,
        math.ceil(config.minHeadCoverage * headSizeOf(rel)).toLong)
  }

  /** Seed-only threshold (AMIEOptions -minis). */
  private def initialThreshold(rel: String): Long = {
    val floor = if (config.minInitialSupport >= 0) config.minInitialSupport
                else config.minSupport
    config.pruningMetric match {
      case PruningMetric.Support      => floor
      case PruningMetric.HeadCoverage => math.ceil(config.minHeadCoverage * headSizeOf(rel)).toLong
      case PruningMetric.Both =>
        math.max(floor, math.ceil(config.minHeadCoverage * headSizeOf(rel)).toLong)
    }
  }

  /** Seed rules `⇒ r(x,y)` for every relation large enough (DMA:81-88);
    * bias-excluded relations (e.g. the schema relations under the
    * signatured bias) never seed. */
  private def seeds: Seq[Node] = {
    val plain = stats.preds
      .filterNot(bias.excludedRelations)
      .filterNot(config.headExcludedRelations)
      .filter(p => config.headTargetRelations.isEmpty ||
        config.headTargetRelations.contains(p))
      .filter(p => headSizeOf(p) >= initialThreshold(p))
      .map(p => Node(Rule(Atom(Var("x"), Const(p), Var("y")), Nil), -1.0))
    if (!bias.instantiatedHeadSeeds) plain
    else plain ++ instantiatedHeadSeedsOf(plain)
  }

  /** `⇒ r(x, C)` seeds: one chunked job binds the head's NON-functional
    * variable per relation, counting the functional one
    * (InstantiatedHeadMiningAssistant.getInitialAtoms — countVarPos is
    * the functional position, the other argument is instantiated). */
  private def instantiatedHeadSeedsOf(plain: Seq[Node]): Seq[Node] = {
    val tasks = plain.map { n =>
      val fvSubj = metrics.headRelationFunctionalIsSubject(n.rule)
      val (fv, nv) = if (fvSubj) (n.rule.head.s, n.rule.head.o)
                     else (n.rule.head.o, n.rule.head.s)
      (n, fv.asInstanceOf[Var], nv.asInstanceOf[Var])
    }
    val parts = tasks.zipWithIndex.map { case ((n, fv, nv), i) =>
      val cc = bias.countConstraints(metrics, n.rule)
      QueryBuilder.distinctableBindings(kb, n.rule.head :: cc,
          Set(nv.name, fv.name), Some(stats))
        .groupBy(col(nv.name)).agg(countDistinct(col(fv.name)).as("supp"))
        .select(Jobs.tag(i).as("id"), col(nv.name).as("c"), col("supp"))
    }
    val out = scala.collection.mutable.ArrayBuffer[Node]()
    for (row <- Jobs.collectChunked(parts, Metrics.JobChunk)) {
      val (n, _, nv) = tasks(Jobs.tagOf(row))
      val supp       = row.getLong(2)
      if (supp >= initialThreshold(headRel(n.rule))) {
        def sub(t: Term): Term = if (t == nv) Const(row.getString(1)) else t
        out += Node(Rule(Atom(sub(n.rule.head.s), n.rule.head.p,
          sub(n.rule.head.o)), Nil), -1.0, supp)
      }
    }
    out.toSeq
  }

  /** Mine and return all output rules, deterministically ordered.
    * Releases the Miner's cached state on return (see [[close]]). */
  def mine(): Seq[ScoredRule] = try mineImpl() finally close()

  private def mineImpl(): Seq[ScoredRule] = {
    val seen   = scala.collection.mutable.Set[String]()
    val output = scala.collection.mutable.ArrayBuffer[ScoredRule]()
    var level  = seeds
    level.foreach(n => seen += n.rule.canonical)

    while (level.nonEmpty) {
      // ---- Phase A: score closed rules of this generation ----
      // optional type-I upper-bound / functionality-heuristic pre-prune: a
      // cheap bound below the threshold means the exact metrics cannot
      // pass either. Computed values are kept for the output columns.
      val closedNodes = level.filter(n => bias.acceptForOutput(n.rule))
      val evals: Seq[(Node, Option[Double], Option[Double], Option[Double])] =
        closedNodes.map { n =>
          // no hint, or the bias rescored with extra type atoms (a bound on
          // the UNconstrained rule does not bound the constrained one)
          if (n.supportHint < 0 || bias.typeConstraints(n.rule).nonEmpty)
            (n, None, None, None)
          else {
            val stdUB = if (config.enableConfidenceBounds)
              metrics.stdConfidenceUpperBound(n.rule, n.supportHint) else None
            val pcaUB = if (config.enableConfidenceBounds)
              metrics.pcaConfidenceUpperBound(n.rule, n.supportHint) else None
            val est = if (config.enableFunctionalityHeuristic && config.minPcaConfidence > 0) {
              if (n.rule.length == 3) metrics.pcaApproximation3(n.rule, n.supportHint)
              else if (n.rule.length > 3) metrics.pcaApproximationPath(n.rule, n.supportHint)
              else None
            } else None
            (n, stdUB, pcaUB, est)
          }
        }
      val kept = evals.filterNot { case (_, stdUB, pcaUB, est) =>
        (config.minStdConfidence > 0 && stdUB.exists(_ < config.minStdConfidence)) ||
        (config.minPcaConfidence > 0 && pcaUB.exists(_ < config.minPcaConfidence)) ||
        (config.minPcaConfidence > 0 && est.exists(_ < config.minPcaConfidence))
      }

      // the signatured bias appends the head relation's domain/range type
      // atoms before scoring AND in the emitted rule
      // (RelationSignatureDefaultMiningAssistant.java:49-86); its hints no
      // longer apply (the constraint changes support)
      val scoreRules = kept.map { case (n, _, _, _) =>
        val extra = bias.typeConstraints(n.rule)
        if (extra.isEmpty) n.rule else n.rule.copy(body = n.rule.body ++ extra)
      }
      val hints: Map[Int, Long] = kept.zipWithIndex.collect {
        case (((n, _, _, _)), i)
            if n.supportHint >= 0 && bias.typeConstraints(n.rule).isEmpty =>
          i -> n.supportHint
      }.toMap
      val lazyCfg =
        if (bias.lazyDenominators) {
          val lookup: Int => Option[Long] = i => hints.get(i)
          Some((lookup, config.minStdConfidence, config.minPcaConfidence))
        } else None
      // ---- One shared job wave for the level ----
      // Phase-A scoring pools and phase-B refinement-candidate pools are
      // submitted through ONE Jobs.collectPools window: the result-
      // dependent part of the refinable set (perfect-rule pruning needs
      // this level's pcaConfidence) is applied as a post-filter on the
      // counted children instead of a barrier before the candidate jobs.
      // The optimistic cost — candidate counts for parents that turn out
      // perfect — is a handful of rules; the saved cost is 3-4 full job
      // waves of driver/scheduling latency per BFS level.
      val scoringPlan = metrics.planScoring(scoreRules, countVarsOf, lazyCfg, bias)
      val candidates  = level.filter(_.rule.length < config.maxDepth)
      val refinePlan  = planRefine(candidates)
      val pooled = Jobs.collectPools(scoringPlan.pools ++ refinePlan.pools)
      val scoredSeq = scoringPlan.finish(pooled.take(scoringPlan.pools.size))
      val scored: Map[String, ScoredRule] =
        kept.zip(scoredSeq).map { case ((n, _, pcaUB, est), s) =>
          n.rule.canonical -> s.copy(
            pcaConfUpperBound = pcaUB.getOrElse(s.pcaConfUpperBound),
            pcaConfEstimation = est.getOrElse(s.pcaConfEstimation))
        }.toMap

      val outputConf = scala.collection.mutable.Map[String, Double]()
      for ((n, _, _, _) <- kept) {
        val s = scored(n.rule.canonical)
        val pass = s.support >= supportThreshold(headRel(n.rule)) &&
          // under -pm support, head coverage is not a pruning criterion
          // (AMIE.java:853-867: one metric drives significance)
          (config.pruningMetric == PruningMetric.Support ||
            s.headCoverage >= config.minHeadCoverage) &&
          s.stdConfidence >= config.minStdConfidence &&
          s.pcaConfidence >= config.minPcaConfidence &&
          s.pcaConfidence > n.ancestorConf // skyline
        // open-head output (existential bias) does not raise the skyline
        // floor: its pcaConfidence is computed over the body-bound variable
        // subset (degenerately 1.0 when the head's functional variable is
        // body-bound), and using it as the floor would suppress every
        // closed descendant.
        val openHead = n.rule.openVars.exists(v => n.rule.headVars.contains(v))
        if (pass) {
          output += s
          if (!openHead) outputConf(n.rule.canonical) = s.pcaConfidence
        }
      }

      // ---- Phase B: assemble children from the already-collected rows ----
      // perfect-rule pruning (pcaConfidence == 1.0 ⇒ no refinement) is
      // exempt for open-head rules: their confidences are computed over
      // the body-bound variable subset, and blocking refinement on that
      // proxy would suppress legitimate closed children (ADVICE r3).
      val refinable: Node => Boolean = { n =>
        val openHead = n.rule.openVars.exists(v => n.rule.headVars.contains(v))
        openHead || scored.get(n.rule.canonical).forall(_.pcaConfidence < 1.0)
      }
      val children = finishRefine(refinePlan, pooled.drop(scoringPlan.pools.size),
        refinable, outputConf.toMap)
      // The same canonical child can be generated by several parents in
      // one level (e.g. h⇐b1∧b2 from both h⇐b1 and h⇐b2), with different
      // skyline floors. The reference rejects a rule if ANY output
      // ancestor matches or beats its confidence (MiningAssistant
      // .java:1238-1266 iterates the full ancestor set), so the merged
      // child keeps the MAX floor — also making the floor independent of
      // job-row collection order (first-seen was collect-order-dependent).
      // BFS-by-length means duplicates only ever collide within a level.
      level = children.groupBy(_.rule.canonical).toSeq.sortBy(_._1)
        .map { case (_, dup) =>
          val floor = dup.map(_.ancestorConf).max
          // deterministic representative naming among the max-floor dups
          dup.filter(_.ancestorConf == floor).minBy(_.rule.amieString)
        }
        .filter(c => seen.add(c.rule.canonical))
    }
    output.toSeq.sortBy(s => (headRel(s.rule), -s.pcaConfidence, -s.support, s.rule.amieString))
  }

  /** Deferred refinement batch for one BFS level: the candidate-count
    * plan pools (templates + instantiations) built for every depth-
    * eligible node, plus the metadata to interpret their rows. */
  private final case class RefinePlan(
      nodes: Seq[Node],
      templates: IndexedSeq[(Int, Atom, Boolean)],
      instTasks: IndexedSeq[(Int, Var)],
      pools: Seq[(Seq[DataFrame], Int)])

  /**
   * Batched dangling (O_D) + closing (O_C) operators (SURVEY.md §2.9).
   * Both reduce to the same template job; instantiation (O_I) reuses the
   * dangling bindings with the fresh variable as the group key. Split
   * into plan/finish so the level's candidate jobs share one
   * [[Jobs.collectPools]] window with the scoring jobs.
   */
  private def planRefine(nodes: Seq[Node]): RefinePlan = {
    // Enumerate (node, template-atom) pairs.
    val templates = scala.collection.mutable.ArrayBuffer[(Int, Atom, Boolean)]() // (idx, atom, isDangling)
    nodes.zipWithIndex.foreach { case (n, i) =>
      val r    = n.rule
      val vars = r.allVars
      val used = vars.map(_.name).toSet
      val fresh = Var(Iterator.from(0).map(k => s"z$k").find(!used(_)).get)
      val open = r.openVars.map(_.name).toSet
      val lastLevel = r.length + 1 == config.maxDepth
      // O_D dangling: join one existing var (bias-chosen set), other side
      // fresh — only if the child can still be closed afterwards
      // (AMIE.java:421-425).
      if (!lastLevel) {
        for (v <- bias.danglingJoinVars(r)) {
          templates += ((i, Atom(v, Var(candCol), fresh), true))
          templates += ((i, Atom(fresh, Var(candCol), v), true))
        }
      }
      // O_C closing: both sides existing vars (bias-chosen pairs). At the
      // last level the child must end up output-eligible: the new atom
      // must cover every open var the bias does not tolerate open
      // (DMA:127-137 max-length pruning; the existential bias tolerates
      // open HEAD variables).
      for {
        (v1, v2) <- bias.closingPairs(r)
        closesAll = (open -- Set(v1.name, v2.name))
          .forall(n => bias.mayStayOpenAtOutput(r, n))
        if !lastLevel || closesAll
      } templates += ((i, Atom(v1, Var(candCol), v2), false))
    }

    // Chunked jobs: per (template, candidate relation) -> child support.
    // One plan per template, the atom order chosen by the stats-driven
    // most-restrictive-first estimator (QueryBuilder.cardinalityOrder):
    // for the dominant closing templates the template atom is scheduled
    // BEFORE the weakly-selective body joins, so the plan never builds
    // the exploded body-only cross section (measured 9M intermediate
    // rows -> ~40k on the sf0.1 dimension KB). ~TemplateChunk plans are
    // unioned per job to bound Catalyst planning cost, and chunk jobs
    // run concurrently (Jobs.collectChunked).
    // One plan per (rule, operator kind) when the rule's body estimate is
    // small: the body is scanned ONCE and unpivoted over the templates'
    // join variables, so a level's candidate counting costs O(#rules)
    // plans instead of O(#templates) — at local scale the per-plan
    // driver/stage overhead dominates these tiny jobs (measured
    // ~0.25 s/plan), and at cluster scale one body scan per rule beats
    // one per template. Rules whose body-only estimate is large fall back
    // to one compiler plan per template, where the template atom is
    // interleaved into the join order (the round-3 fix: the stats order
    // schedules it before weakly-selective body joins, so the exploded
    // body-only cross section — measured 9M rows on hub-shaped bodies —
    // is never materialized).
    val byRule = templates.zipWithIndex
      .groupBy { case ((idx, _, isDangling), _) => (idx, isDangling) }
      .toSeq.sortBy(_._2.head._2)
    // merged bodies bucketed by (kind, count-arity): each bucket becomes
    // ONE plan — union of the normalized unpivoted bodies, one shared
    // join, one final aggregation (vs one exchange per rule)
    val mergedBodies = scala.collection.mutable.LinkedHashMap
      .empty[(Boolean, Int), scala.collection.mutable.ArrayBuffer[DataFrame]]
    val fallback = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (((idx, isDangling), tpls) <- byRule) {
      val r  = nodes(idx).rule
      val cc = bias.countConstraints(metrics, r)
      val hv = countVarsOf(r) // bias-chosen support variables
      val tplVars = tpls.flatMap { case ((_, tpl, _), _) => tpl.vars }
        .filter(_.name != candCol).map(_.name).toSet
      val keepAll = hv.map(_.name).toSet ++
        (tplVars intersect r.allVars.map(_.name).toSet)
      val bodyEst = QueryBuilder.estimateBindings(r.atoms ++ cc, stats, keepAll)
      if (bodyEst <= Miner.MergeBodyMaxRows) {
        val body = QueryBuilder.distinctableBindings(kb, r.atoms ++ cc,
          keepAll, Some(stats))
        val ruleVars = r.allVars.map(_.name).toSet
        val entries = tpls.map { case ((_, tpl, _), tplId) =>
          if (isDangling) {
            // existential-dedup form (KB.java:1793-1835): the fresh
            // variable is counted nowhere, so each template reduces to a
            // join against the cached (relation, value) index views
            (tpl.s, tpl.o) match {
              case (j: Var, f: Var) if ruleVars(j.name) && !ruleVars(f.name) =>
                struct(Jobs.tag(tplId).as("tid"), lit("s").as("__k1"),
                  col(j.name).as("__k2"))
              case (f: Var, j: Var) if ruleVars(j.name) && !ruleVars(f.name) =>
                struct(Jobs.tag(tplId).as("tid"), lit("o").as("__k1"),
                  col(j.name).as("__k2"))
              case other => sys.error(s"malformed dangling template: $other")
            }
          } else (tpl.s, tpl.o) match {
            // closing templates: every ordered variable pair joins the
            // same fact table, keyed (subj, obj)
            case (a: Var, b: Var) =>
              struct(Jobs.tag(tplId).as("tid"), col(a.name).as("__k1"),
                col(b.name).as("__k2"))
            case other => sys.error(s"malformed closing template: $other")
          }
        }
        // positional key-field names so bodies of different rules union;
        // binding columns are projections of triple values (never null),
        // so countDistinct over the struct equals the per-column count
        val keyCol =
          if (hv.size == 1) col(hv.head.name).as("__key")
          else struct(hv.zipWithIndex.map { case (v, i) =>
            col(v.name).as(s"k$i") }: _*).as("__key")
        val unp = body
          .select(keyCol, explode(array(entries.toSeq: _*)).as("__jv"))
          .select(col("__key"), col("__jv.tid").as("__tid"),
            col("__jv.__k1").as("__k1"), col("__jv.__k2").as("__k2"))
        mergedBodies.getOrElseUpdate((isDangling, hv.size),
          scala.collection.mutable.ArrayBuffer()) += unp
      } else fallback ++= tpls.map { case ((_, tpl, _), tplId) =>
        // big-body fallback: template atom inside the conjunction (stats
        // order interleaves it; the compiler existentially dedups a
        // dangling template's fresh variable)
        val cd = if (hv.size == 1) countDistinct(col(hv.head.name))
                 else countDistinct(struct(hv.map(v => col(v.name)): _*))
        QueryBuilder.distinctableBindings(kb, (r.atoms ++ cc) :+ tpl,
            hv.map(_.name).toSet + candCol, Some(stats))
          .groupBy(col(candCol)).agg(cd.as("supp"))
          .select(Jobs.tag(tplId).as("tpl_id"), col(candCol).as("rel"), col("supp"))
      }
    }
    val mergedParts = mergedBodies.toSeq.map { case ((isDangling, _), frames) =>
      val u = frames.reduce(_ unionAll _)
      val (right, rightSmall) =
        if (isDangling) {
          val idxAll = predSubjIdx.select(lit("s").as("__k1"),
              col("subj").as("__k2"), col("pred").as("__rel"))
            .unionAll(predObjIdx.select(lit("o").as("__k1"),
              col("obj").as("__k2"), col("pred").as("__rel")))
          (idxAll, predSubjRows + predObjRows <= QueryBuilder.BroadcastMaxRows)
        } else {
          val facts = kb.select(col("subj").as("__k1"),
            col("obj").as("__k2"), col("pred").as("__rel"))
          (facts, stats.totalFacts <= QueryBuilder.BroadcastMaxRows)
        }
      u.join(if (rightSmall) broadcast(right) else right, Seq("__k1", "__k2"))
        .groupBy(col("__tid"), col("__rel"))
        .agg(countDistinct(col("__key")).as("supp"))
        .select(col("__tid").as("tpl_id"), col("__rel").as("rel"), col("supp"))
    }
    val parts = mergedParts ++ fallback
    val (iTasks, iParts) = planInstantiations(nodes)
    RefinePlan(nodes, templates.toIndexedSeq, iTasks,
      Seq((parts.toSeq, Miner.TemplateChunk), (iParts, Metrics.JobChunk)))
  }

  /** Assemble the level's children from the collected candidate rows:
    * `res(0)` = template counts, `res(1)` = instantiation counts.
    * `refinable` applies the result-dependent perfect-rule pruning the
    * shared job window could not know at plan time — children of a
    * parent that scored pcaConfidence == 1.0 are dropped here. */
  private def finishRefine(plan: RefinePlan, res: IndexedSeq[Seq[Row]],
      refinable: Node => Boolean, outputConf: Map[String, Double]): Seq[Node] = {
    val nodes     = plan.nodes
    val templates = plan.templates
    if (nodes.isEmpty) return Nil

    val children  = scala.collection.mutable.ArrayBuffer[Node]()
    val reguarded = scala.collection.mutable.ArrayBuffer[(Rule, Double)]() // needs support re-measure
    for (row <- res(0)) {
      val (idx, tpl, isDangling) = templates(Jobs.tagOf(row))
      val rel           = row.getString(1)
      val supp          = row.getLong(2)
      val parent        = nodes(idx)
      val newAtom       = tpl.copy(p = Const(rel))
      val child         = Rule(parent.rule.head, parent.rule.body :+ newAtom)
      val ok = refinable(parent) &&
        supp >= supportThreshold(headRel(parent.rule)) &&
        !bias.excludedRelations.contains(rel) &&
        !config.bodyExcludedRelations.contains(rel) &&
        !parent.rule.atoms.contains(newAtom) &&
        child.relationOccurrences(rel) <= config.maxRelationOccurrence
      if (ok) {
        val floor = math.max(parent.ancestorConf,
          outputConf.getOrElse(parent.rule.canonical, -1.0))
        // differentFrom guard on instantiated recursion (DMA:370-397):
        // with constants enabled, a dangling atom unifiable with an
        // existing atom that carries a CONSTANT at the dangling position
        // gets `differentFrom(fresh, constant)` pseudo-atoms — otherwise
        // later instantiation of `fresh` could recreate that atom and emit
        // a trivially-satisfied recursive constant rule. The guard changes
        // the child's support, so it is re-measured (batched below).
        val guards =
          if (!config.enableConstants || !isDangling) Nil
          else {
            val parentVars = parent.rule.allVars.toSet
            val freshV = tpl.vars.find(v => !parentVars.contains(v) && v.name != candCol)
            freshV.toList.flatMap { fv =>
              val danglingIsSubj = tpl.s == fv
              parent.rule.atoms
                .filter(a => !a.isPseudo && Rule.unifiable(a, newAtom))
                .flatMap { a =>
                  (if (danglingIsSubj) a.s else a.o) match {
                    case c: Const => Some(Atom(fv, Const(Atom.DifferentFrom), c))
                    case _        => None
                  }
                }.distinct
            }
          }
        if (guards.isEmpty) children += Node(child, floor, supp)
        else reguarded += ((Rule(child.head, child.body ++ guards), floor))
      }
    }
    // O_T type specialization (MA:902-925, opt-in): children join the same
    // support re-measure batch as the guarded ones. Counting uses the
    // active bias's variables (the reference's base impl counts the
    // functional variable; the per-bias choice keeps thresholds coherent
    // with every other operator here).
    if (config.enableTypeSpecialization) {
      for (n <- nodes if refinable(n); child <- typeSpecializations(n.rule)) {
        val floor = math.max(n.ancestorConf,
          outputConf.getOrElse(n.rule.canonical, -1.0))
        reguarded += ((child, floor))
      }
    }
    // Exists-rewrite variant (ExistentialRulesMiningAssistant
    // .getClosingAtoms :46-79, via MiningBias.ExistentialRules): a
    // refinable rule with open variables ALSO spawns the candidate where
    // each atom carrying one becomes an exists/existsInv meta-atom.
    // The rewrite replaces whole atoms, so support changes entirely —
    // the child joins the same re-measure batch.
    if (bias.existsRewrites) {
      for (n <- nodes if refinable(n); child <- existsRewrite(n.rule)) {
        val floor = math.max(n.ancestorConf,
          outputConf.getOrElse(n.rule.canonical, -1.0))
        reguarded += ((child, floor))
      }
    }
    // re-measure guarded/specialized children in chunked jobs (the guard
    // only shrinks support, so the threshold must be re-checked —
    // DMA:381-393; specialized atoms change support entirely)
    if (reguarded.nonEmpty) {
      val parts = reguarded.zipWithIndex.map { case ((r, _), i) =>
        val hv = countVarsOf(r)
        val cd = if (hv.size == 1) countDistinct(col(hv.head.name))
                 else countDistinct(struct(hv.map(v => col(v.name)): _*))
        QueryBuilder.distinctableBindings(kb,
            r.atoms ++ bias.countConstraints(metrics, r),
            hv.map(_.name).toSet, Some(stats)).agg(cd.as("supp"))
          .select(Jobs.tag(i).as("id"), col("supp"))
      }
      val supps = Jobs.collectChunked(parts.toSeq, Metrics.JobChunk)
        .map(row => Jobs.tagOf(row) -> row.getLong(1)).toMap
      reguarded.zipWithIndex.foreach { case ((r, floor), i) =>
        val supp = supps.getOrElse(i, 0L)
        if (supp >= supportThreshold(headRel(r))) children += Node(r, floor, supp)
      }
    }
    children ++= finishInstantiations(plan, res(1), refinable, outputConf)
    children.toSeq
  }

  /**
   * Exists-rewritten variant of a rule with open variables
   * (ExistentialRulesMiningAssistant.getClosingAtoms :46-79): every
   * POSITIVE body atom carrying an open variable is replaced by the
   * meta-atom asserting that variable's existential —
   * `r(z, o)` with z open → `existsInv(r, o)` (∃s r(s, o));
   * `r(s, z)` with z open → `exists(r, s)` (∃o r(s, o)).
   * None when there is nothing to rewrite or the shape is one the
   * reference handles degenerately (see [[MiningBias.ExistentialRules]]
   * for the two documented deviations): an atom with BOTH ends open
   * (reference aborts, :53-55), an open variable in the head or in a
   * pseudo/meta atom, or a variable relation position.
   */
  private[graft] def existsRewrite(r: Rule): Option[Rule] = {
    val open = r.openVars.map(_.name).toSet
    def isOpen(t: Term) = t match { case v: Var => open(v.name); case _ => false }
    if (open.isEmpty || r.head.vars.exists(v => open(v.name))) return None
    val (touched, untouched) = r.body.partition(a => a.vars.exists(v => open(v.name)))
    if (touched.exists(a => a.isPseudo || a.isMeta)) return None
    val rewritten = touched.map { a =>
      (isOpen(a.s), isOpen(a.o), a.p) match {
        case (true, false, p: Const) => Atom(p, Const(Atom.ExistsInv), a.o)
        case (false, true, p: Const) => Atom(p, Const(Atom.Exists), a.s)
        case _                       => return None
      }
    }
    Some(Rule(r.head, (untouched ++ rewritten).distinct))
  }

  /** Type-specialized children of one rule (no support yet): last body
    * atom `typeRelation(x, C)` with constant C → one child per direct
    * subtype of C (MiningAssistant.getTypeSpecializedAtoms, MA:902-925). */
  private[graft] def typeSpecializations(r: Rule): Seq[Rule] = {
    val i = r.body.lastIndexWhere(!_.isPseudo)
    if (i < 0) return Nil
    val a = r.body(i)
    (a.p, a.o) match {
      case (Const(p), Const(cls)) if p == config.typeRelation =>
        config.subTypes.getOrElse(cls, Nil).map { sub =>
          Rule(r.head, r.body.updated(i, a.copy(o = Const(sub))))
        }
      case _ => Nil
    }
  }

  /**
   * O_I instantiation (SURVEY.md §2.9; reference `@MiningOperator
   * ("instantiated")`, DefaultMiningAssistant.java:458-521 +
   * MiningAssistant.java:853-890): bind an OPEN variable (one appearing
   * in exactly one atom — which may be the head's non-functional
   * variable) to each constant with enough support. One chunked job per
   * level: `bindings(rule).groupBy(openVar).agg(countDistinct(remaining
   * head vars))`. The child keeps its atom count (a variable is replaced,
   * not an atom added), so instantiation does not consume search depth —
   * it strictly reduces the variable count, which bounds the recursion.
   * Split into plan/finish so the level's O_I candidate jobs share one
   * [[Jobs.collectPools]] window with the scoring and template jobs.
   */
  private def planInstantiations(
      nodes: Seq[Node]): (IndexedSeq[(Int, Var)], Seq[DataFrame]) = {
    if (!config.enableConstants) return (IndexedSeq.empty, Nil)
    // -itr / -iexr (AMIEOptions): an open variable belongs to exactly
    // one real atom; its relation gates whether the variable may be
    // instantiated (the reference applies the filter to the dangling
    // atom being instantiated, DMA getInstantiatedAtoms)
    def instantiable(r: Rule, v: Var): Boolean =
      r.atoms.filterNot(_.isPseudo).find(_.vars.contains(v))
        .flatMap(_.p match { case Const(p) => Some(p); case _ => None })
        .forall { p =>
          (config.instantiationTargetRelations.isEmpty ||
            config.instantiationTargetRelations.contains(p)) &&
          !config.instantiationExcludedRelations.contains(p)
        }
    val tasks = (for {
      (n, i) <- nodes.zipWithIndex
      v      <- n.rule.openVars
      if instantiable(n.rule, v)
    } yield (i, v)).toIndexedSeq
    if (tasks.isEmpty) return (tasks, Nil)

    val parts = tasks.zipWithIndex.map { case ((idx, v), taskId) =>
      val r = nodes(idx).rule
      // count with the bias's support variables (minus the one being
      // bound), so O_I children meet the same threshold semantics as the
      // dangling/closing operators
      val rest = countVarsOf(r).filterNot(_ == v) match {
        case Seq() => r.headVars.filterNot(_ == v) match {
          case Seq() => r.headVars // head fully consumed: count the pair itself
          case other => other
        }
        case other => other
      }
      val cd =
        if (rest.size == 1) countDistinct(col(rest.head.name))
        else countDistinct(struct(rest.map(h => col(h.name)): _*))
      QueryBuilder.distinctableBindings(kb,
          r.atoms ++ bias.countConstraints(metrics, r),
          (v +: rest).map(_.name).toSet, Some(stats))
        .groupBy(col(v.name)).agg(cd.as("supp"))
        .select(Jobs.tag(taskId).as("task_id"), col(v.name).as("c"), col("supp"))
    }
    (tasks, parts)
  }

  /** Assemble O_I children from the shared job window's collected rows.
    * `refinable` drops children of parents the level's scoring pass
    * found perfect (pcaConfidence == 1.0) — the counts were computed
    * optimistically inside the shared window. */
  private def finishInstantiations(plan: RefinePlan, counted: Seq[Row],
      refinable: Node => Boolean, outputConf: Map[String, Double]): Seq[Node] = {
    val nodes = plan.nodes
    val tasks = plan.instTasks
    val out = scala.collection.mutable.ArrayBuffer[Node]()
    for (row <- counted) {
      val (idx, v) = tasks(Jobs.tagOf(row))
      val c        = row.getString(1)
      val supp     = row.getLong(2)
      val parent   = nodes(idx)
      if (refinable(parent) && supp >= supportThreshold(headRel(parent.rule))) {
        def sub(t: Term): Term = if (t == v) Const(c) else t
        def subAtom(a: Atom)   = Atom(sub(a.s), sub(a.p), sub(a.o))
        // drop guards the substitution made vacuously TRUE (e.g.
        // differentFrom(C2, C1)) — keeping them would emit duplicate rules
        // differing only by a no-op pseudo-atom. Vacuously FALSE guards
        // never reach here: the pseudo filter already zeroed that
        // constant's support in the groupBy above.
        def vacuous(a: Atom): Boolean = a.isPseudo && ((a.s, a.o) match {
          case (Const(x), Const(y)) =>
            (a.p == Const(Atom.DifferentFrom) && x != y) ||
            (a.p == Const(Atom.Equals) && x == y)
          case _ => false
        })
        val child = Rule(subAtom(parent.rule.head),
          parent.rule.body.map(subAtom).filterNot(vacuous))
        // redundancy guard (Rule.getRedundantAtoms, Rule.java:619-763): a
        // substitution collapsing two atoms into duplicates makes the rule
        // trivially equivalent to its shorter form — never emit it
        val real = child.atoms.filterNot(_.isPseudo)
        if (real.distinct.size == real.size) {
          val floor = math.max(parent.ancestorConf,
            outputConf.getOrElse(parent.rule.canonical, -1.0))
          out += Node(child, floor, supp)
        }
      }
    }
    out.toSeq
  }
}

object Miner {
  /** Body-estimate ceiling for the merged one-plan-per-rule candidate
    * counting: above it, materializing the body without the template atom
    * risks the hub-shaped cross-section blow-up, so each template gets
    * its own compiler-ordered plan instead. */
  val MergeBodyMaxRows: Double = 2e6

  /** Candidate-counting templates per chunk job. Measured A/B at sf0.1
    * (round 3, stats-ordered plans): 12 beats 24 and 48 — smaller chunks
    * plan faster and overlap better under the concurrent job pool. */
  val TemplateChunk = 12
}
