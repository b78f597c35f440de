package graft.mine

import graft.kb._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * AMIE rule-quality metrics, computed with Catalyst joins + exact
 * countDistinct — the bit-for-bit contract of SURVEY.md §2.10:
 *
 * - support        = #distinct head-var bindings of (head ∧ body)
 *                    (DefaultMiningAssistant.java:636-655)
 * - headCoverage   = support / headSize (MiningAssistant.java:493-511)
 * - stdConfidence  = support / #distinct head-var bindings of (body)
 *                    (DMA:699-726, Rule.java:513-515)
 * - pcaConfidence  = support / #bindings of (body ∧ r(x, y′)) where the
 *                    NON-functional head variable is replaced by a fresh
 *                    existential (DMA:658-696, MA:1415-1445); functional
 *                    variable = subject iff functionality ≥ inverse
 *                    functionality (MA:722-729, KB.java:717-720).
 *
 * All rules of a generation are scored in ONE Spark job: per-rule
 * single-row aggregates are unioned and collected together, so the
 * per-candidate query storm of the reference (one KB call per rule)
 * becomes a handful of jobs per BFS level.
 */
final class Metrics(triples: DataFrame, stats: KGStats) {

  private def freshVar(r: Rule): Var = {
    val used = r.allVars.map(_.name).toSet
    Var(Iterator.from(0).map(i => s"pca$i").find(!used(_)).get)
  }

  /** The PCA body: body ∧ head-with-nonfunctional-var-replaced. */
  def pcaAtoms(r: Rule): Seq[Atom] = {
    val fresh = freshVar(r)
    val pcaHead =
      if (headRelationFunctionalIsSubject(r)) r.head.copy(o = fresh)
      else r.head.copy(s = fresh)
    r.body :+ pcaHead
  }

  def headRelationFunctionalIsSubject(r: Rule): Boolean = r.head.p match {
    case Const(p) => stats.functionalVarIsSubject(p)
    case _        => true
  }

  /** Count-distinct of the rule's head variables over a conjunction,
    * as a 1-row DataFrame tagged with (rule_id, kind). */
  private def agg1(ruleId: Int, kind: String, vs: Seq[Var], atoms: Seq[Atom]): DataFrame = {
    // type-I dup-relation canonicalization (rewriteProjectionQuery,
    // DMA:538-586): projection-neutral, one join fewer; the
    // countDistinct aggregation licenses the existential-dedup path
    val df = QueryBuilder.distinctableBindings(triples,
      QueryBuilder.dropRedundantDupAtoms(atoms, vs.map(_.name).toSet),
      vs.map(_.name).toSet, Some(stats))
    df.agg(QueryBuilder.countDistinctOf(vs).as("n"))
      .select(Jobs.tag(ruleId).as("rule_id"), lit(kind).as("kind"), col("n"))
  }

  /** Head size: relation size for a 2-variable head (stats lookup — no
    * job); a count query when the head carries a constant. */
  private def headSize(r: Rule): Long = r.head match {
    case Atom(_: Var, Const(p), _: Var) => stats.size(p)
    case _ =>
      QueryBuilder.countDistinctBindings(triples, r.headVars, Seq(r.head), Some(stats))
  }

  /** True when [[headSize]] needs a Spark job (constant-carrying head). */
  private def headSizeNeedsQuery(r: Rule): Boolean = r.head match {
    case Atom(_: Var, Const(_), _: Var) => false
    case _                              => r.headVars.nonEmpty
  }

  import Metrics.JobChunk

  /**
   * All three counts of one rule in ONE plan: the body bindings are
   * computed once and the head / existential-head matches become LEFT-join
   * markers over distinct key projections (a distinct right side never
   * multiplies rows), so
   *
   *   support = countDistinct(headVars | head marker set)
   *   body    = countDistinct(headVars)
   *   pca     = countDistinct(headVars | pca marker set)
   *
   * — identical values to the three separate aggregations (the head atom
   * only ever constrains via its shared variables), at a third of the
   * jobs and ONE scan/shuffle of the body instead of three. Applicable
   * whenever every head variable is bound by the body (always true for
   * closed rules); other shapes fall back to [[agg1]].
   */
  private def fusedPlan(ruleId: Int, r: Rule, countVars: Seq[Var],
      cc: List[Atom] = Nil): Option[DataFrame] = {
    val hv = countVars
    if (r.body.isEmpty || hv.isEmpty) return None
    // variables PROJECTED by the body plan: positive atoms only (pseudo
    // atoms are filters and contribute no columns)
    val bodyVars = r.body.filterNot(_.isPseudo).flatMap(_.vars).map(_.name).toSet
    // the head marker joins on ALL head variables (the head atom
    // constrains every one of them); countVars only selects what is
    // counted distinct (all head vars for the default bias, the
    // functional one for oneVar)
    val headKeys = r.headVars.map(_.name)
    if (headKeys.isEmpty || !(headKeys ++ hv.map(_.name)).forall(bodyVars)) return None
    // a count constraint mentioning a variable outside the head keys
    // cannot ride the head marker
    if (!cc.flatMap(_.vars).map(_.name).forall(n => headKeys.contains(n) || !r.allVars.exists(_.name == n)))
      return None
    val fresh = freshVar(r)
    val pcaHead =
      if (headRelationFunctionalIsSubject(r)) r.head.copy(o = fresh)
      else r.head.copy(s = fresh)
    val pcaKeys = pcaHead.vars.filterNot(_ == fresh).map(_.name).distinct
    if (pcaKeys.isEmpty || !pcaKeys.forall(bodyVars)) return None
    // the body feeds three counts, so an atom is only redundant if its
    // differing variable is outside ALL of the count/marker key sets
    // (rewriteProjectionQuery parity, DMA:538-586)
    // all three aggregations are countDistinct over subsets of the kept
    // variable set — the existential-dedup path applies to the body too
    val keepNames = (hv.map(_.name) ++ headKeys ++ pcaKeys).toSet
    val base  = QueryBuilder.distinctableBindings(triples,
      QueryBuilder.dropRedundantDupAtoms(r.body, keepNames),
      keepNames, Some(stats))
    // support-only count constraints (seeds-count bias) ride in the head
    // marker: they only touch head variables, so the marker's distinct
    // key set is exactly the constrained support key set
    val headD = QueryBuilder.distinctableBindings(triples, r.head +: cc,
        headKeys.toSet, Some(stats))
      .select(headKeys.map(col): _*).distinct().withColumn("__h", lit(1))
    val pcaD  = QueryBuilder.distinctableBindings(triples, Seq(pcaHead),
        pcaKeys.toSet, Some(stats))
      .select(pcaKeys.map(col): _*).distinct().withColumn("__p", lit(1))
    // the marker tables are bounded by the head relation's size — when
    // that fits the broadcast envelope, hint it: the two left joins then
    // run build-right without shuffling the (much larger) body bindings
    val estr      = new QueryBuilder.Estimator(stats)
    val headSmall = estr.baseEst(r.head) <= QueryBuilder.BroadcastMaxRows
    val (hD, pD)  = if (headSmall) (broadcast(headD), broadcast(pcaD))
                    else (headD, pcaD)
    val joined = base.join(hD, headKeys, "left").join(pD, pcaKeys, "left")
    // pre-aggregation form: positional keys so the frames of different
    // rules UNION into one shared aggregation per counting arity (one
    // aggregation per scoring wave instead of one per rule);
    // [[planScoring]] counts the distinct keys and those each marker hits
    Some(joined.select(Jobs.tag(ruleId).as("__rid"), QueryBuilder.keyOf(hv),
      col("__h"), col("__p")))
  }

  /** Score a batch of closed rules in a handful of chunked jobs. */
  def scoreAll(rules: Seq[Rule]): Seq[ScoredRule] = {
    if (rules.isEmpty) return Nil
    val p = planScoring(rules, _.headVars, MiningBias.Default)
    p.finish(Jobs.collectPools(p.pools))
  }

  /**
   * Deferred-execution variant of [[scoreAll]]: returns the three plan
   * pools (fused one-plan-per-rule scoring, per-shape fallback counts,
   * head sizes) WITHOUT running them, plus a finisher that assembles the
   * [[ScoredRule]]s from the pools' collected rows. The miner merges
   * these pools with the refinement-candidate pools of the same BFS
   * level into one shared [[Jobs.collectPools]] submission — the
   * phase-A/phase-B jobs are independent, and a barrier between them
   * costs a full job wave of scheduling latency per level.
   *
   * @param countVarsOf support/denominator counting variables per rule
   *                    (the bias's choice — [[MiningBias.countVars]])
   * @param bias        the bias's count constraints (support-only extra
   *                    atoms), output-rule acceptance and supportRatio
   *                    denominator — the seeds-count / existential
   *                    assistant surface.
   */
  private[mine] def planScoring(
      rules: Seq[Rule],
      countVarsOf: Rule => Seq[Var],
      bias: MiningBias): ScoringPlan = {

    val counts       = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
    // open-head rules (existential bias): support counts BOTH head
    // variables but the denominators can only count the body-bound ones —
    // dividing the pair count by a single-variable denominator would let
    // confidences exceed 1.0 (and a fake pcaConfidence == 1.0 trips the
    // miner's perfect-rule pruning). Confidence NUMERATORS therefore use a
    // support counted over the same body-bound variable set as the
    // denominators; the Support output column keeps the bias's variables.
    val confSupport  = scala.collection.mutable.Map[Int, Long]()
    // fused pre-agg frames bucketed by counting arity — each bucket
    // unions into ONE aggregation job (shared exchange across rules)
    val fusedBuckets = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[DataFrame]]
    val parts        = scala.collection.mutable.ArrayBuffer[DataFrame]()

    rules.zipWithIndex.foreach { case (r, i) =>
      val kv = countVarsOf(r)
      val cc = bias.countConstraints(this, r)
      fusedPlan(i, r, kv, cc) match {
        case Some(df) =>
          fusedBuckets.getOrElseUpdate(kv.size,
            scala.collection.mutable.ArrayBuffer()) += df
        case None =>
          // fallback (head variable not bound by the body: bodyless,
          // fully-instantiated, or EXISTENTIAL heads): separate aggs.
          // Denominators count only the body-bound counting variables
          // — an open head variable is constrained by nothing in a
          // body-only conjunction (its column does not even exist
          // there); with no bound count var the denominators stay 0
          // and the confidences degrade to 0.0, the reference's own
          // behavior for this shape (ExistentialRulesHeadVariables
          // MiningAssistant.java:44-57, exception-swallowed).
          parts += agg1(i, "support", kv, r.atoms ++ cc)
          val bodyVars = r.realBody.flatMap(_.vars).map(_.name).toSet
          val dvs      = kv.filter(v => bodyVars(v.name))
          if (dvs.nonEmpty && r.realBody.nonEmpty) {
            parts += agg1(i, "body", dvs, r.body)
            parts += agg1(i, "pca", dvs, pcaAtoms(r))
            // confidence numerator on the denominators' variable set
            if (dvs != kv) parts += agg1(i, "suppd", dvs, r.atoms ++ cc)
          }
      }
    }

    // constant-carrying heads need a count query for headSize — batched
    // and chunked like every other measurement (one blocking job per
    // O_I rule would reintroduce the per-candidate query storm)
    val hsParts = rules.zipWithIndex.collect {
      case (r, i) if headSizeNeedsQuery(r) || bias.countConstraints(this, r).nonEmpty =>
        // under count constraints the head-coverage denominator is the
        // constrained head count on the bias's counting variables (the
        // reference registers seedsCardinality as the head cardinality)
        val cc = bias.countConstraints(this, r)
        if (cc.isEmpty) agg1(i, "hs", r.headVars, Seq(r.head))
        else agg1(i, "hs", countVarsOf(r), r.head +: cc)
    }

    def finish(res: IndexedSeq[Seq[Row]]): Seq[ScoredRule] = {
      res(0).foreach(row =>
        counts(Jobs.tagOf(row)) = (row.getLong(1), row.getLong(2), row.getLong(3)))

      res(1).groupBy(Jobs.tagOf).foreach { case (i, rows) =>
        val m = rows.map(row => row.getString(1) -> row.getLong(2)).toMap
        counts(i) = (
          m.getOrElse("support", 0L),
          m.getOrElse("body", 0L),
          m.getOrElse("pca", 0L))
        m.get("suppd").foreach(confSupport(i) = _)
      }

      val headSizes: Map[Int, Long] =
        res(2).map(row => Jobs.tagOf(row) -> row.getLong(2)).toMap

      assemble(rules, counts, confSupport, headSizes, bias)
    }

    // the three distinct counts as two plain aggregations: one row per
    // (rule, key) carrying whether any of its rows hit each marker, then
    // per-rule counts. Three countDistincts would be rewritten through an
    // Expand whose branch order follows expression-id hashes, which differ
    // per plan, so the same scoring shape would generate new code.
    val fusedParts = fusedBuckets.values.toSeq.map { frames =>
      frames.reduce(_ unionAll _)
        .groupBy(col("__rid"), col("__key"))
        .agg(max(col("__h")).as("__h"), max(col("__p")).as("__p"))
        .groupBy(col("__rid"))
        .agg(count(col("__h")).as("support"), count(col("__key")).as("body"),
          count(col("__p")).as("pca"))
        .select(col("__rid").as("rule_id"),
          col("support"), col("body"), col("pca"))
    }
    ScoringPlan(
      Seq((fusedParts, JobChunk), (parts.toSeq, JobChunk), (hsParts, JobChunk)),
      finish)
  }

  private def assemble(
      rules: Seq[Rule],
      counts: scala.collection.Map[Int, (Long, Long, Long)],
      confSupport: scala.collection.Map[Int, Long],
      headSizes: Map[Int, Long],
      bias: MiningBias): Seq[ScoredRule] =
    rules.zipWithIndex.map { case (r, i) =>
      // a rule with ZERO bindings produces no grouped-aggregation row
      // (the per-rule global agg used to emit an explicit all-zero row)
      val (support, body, pca) = counts.getOrElse(i, (0L, 0L, 0L))
      val confSupp = confSupport.getOrElse(i, support)
      val hs = headSizes.getOrElse(i, headSize(r))
      ScoredRule(
        rule = r,
        support = support,
        headCoverage = if (hs == 0) 0.0 else support.toDouble / hs,
        stdConfidence = if (body == 0) 0.0 else confSupp.toDouble / body,
        pcaConfidence = if (pca == 0) 0.0 else confSupp.toDouble / pca,
        bodySize = body,
        pcaBodySize = pca,
        functionalVariable = {
          val t = if (headRelationFunctionalIsSubject(r)) r.head.s else r.head.o
          t match { case Var(n) => s"?$n"; case Const(c) => c } // head may be instantiated
        },
        supportRatio = {
          val denom = bias.supportRatioDenom.getOrElse(stats.totalFacts)
          if (denom == 0) 0.0 else support.toDouble / denom
        },
        // stdConfUpperBound is a pure stats lookup (zero jobs) — populate
        // whenever the hard shape applies; pcaConfEstimation is filled in
        // by the miner when its functionality heuristic computed it, and
        // pcaConfUpperBound keeps its 0.0 default.
        stdConfUpperBound = stdConfidenceUpperBound(r, support).getOrElse(0.0))
    }

  def score(rule: Rule): ScoredRule = scoreAll(Seq(rule)).head

  /**
   * Type-I hard-shape detection (AbstractKB.identifyHardQueryTypeI,
   * kb/.../AbstractKB.java:292-317): two 2-variable body atoms with the
   * SAME relation sharing exactly one position — `r(x,z) r(y,z)` (shared
   * object) or `r(z,x) r(z,y)` (shared subject). Like the reference,
   * only 3-atom rules qualify (MiningAssistant.java:988-992).
   */
  def hardTypeI(r: Rule): Option[(Atom, Atom, Boolean)] =
    if (r.realBody.size != 2) None
    else (r.realBody: @unchecked) match {
      case List(a1, a2)
          if a1.p == a2.p && a1.vars.size == 2 && a2.vars.size == 2 =>
        if (a1.s != a2.s && a1.o == a2.o) Some((a1, a2, true))  // shared object
        else if (a1.s == a2.s && a1.o != a2.o) Some((a1, a2, false)) // shared subject
        else None
      case _ => None
    }

  /**
   * Standard-confidence upper bound for type-I shapes
   * (MiningAssistant.getStdConfidenceUpperBound, MA:1321-1338):
   * support / #distinct subjects (resp. objects) of the body relation —
   * a pure stats-pass lookup, zero jobs.
   */
  def stdConfidenceUpperBound(r: Rule, support: Long): Option[Double] =
    hardTypeI(r).collect { case (a1, _, sharedObj) =>
      val Const(rel) = a1.p: @unchecked
      val st = stats.relations.get(rel)
      val denom = st.map(s => if (sharedObj) s.distinctSubj else s.distinctObj).getOrElse(0L)
      if (denom == 0) 0.0 else support.toDouble / denom
    }

  /** Overlap tables, built lazily: only the functionality heuristic pays
    * for them (same gating as the reference, AMIE.java:936-944). */
  lazy val overlapStats: OverlapStats = OverlapStats.compute(triples)

  /** Type-III hard shape (AbstractKB.identifyHardQueryTypeIII,
    * AbstractKB.java:352-383): two 2-variable body atoms sharing exactly
    * one variable. Returns (t1, t2, posInT2, posInT1) of the shared var. */
  def hardTypeIII(r: Rule): Option[(Atom, Atom, Int, Int)] =
    if (r.realBody.size != 2) None
    else {
      val List(t1, t2) = r.realBody: @unchecked
      if (t1.vars.size != 2 || t2.vars.size != 2) None
      else {
        def pos(t: Term, a: Atom): Int =
          if (t == a.s) 0 else if (t == a.o) 2 else -1
        val p1 = pos(t1.s, t2)
        val p2 = pos(t1.o, t2)
        if ((p1 != -1 && p2 != -1) || (p1 == -1 && p2 == -1)) None
        else if (p1 != -1) Some((t1, t2, p1, 0))
        else Some((t1, t2, p2, 2))
      }
    }

  /** Single-variable-path test (Rule.containsSinglePath, reference
    * rules/.../Rule.java:1612-1644): both head terms are variables, all
    * body terms are variables, head variables occur once in the body and
    * every other body variable exactly twice — i.e. the body is a chain
    * between the head variables. */
  def containsSinglePath(r: Rule): Boolean = {
    val headVars = r.head.vars
    if (headVars.size != 2 || r.realBody.isEmpty) return false
    val bodyTerms = r.realBody.flatMap(a => Seq(a.s, a.o))
    if (bodyTerms.exists(!_.isInstanceOf[Var])) return false
    val freq = bodyTerms.groupBy(identity).map { case (k, v) => k -> v.size }
    bodyTerms.distinct.forall { v =>
      if (headVars.contains(v)) freq(v) == 1 else freq(v) == 2
    }
  }

  /** Atoms ordered along the chain starting at the functional head
    * variable (Rule.getCanonicalPath, Rule.java:1668-1719). */
  def canonicalPath(r: Rule): List[Atom] = {
    val start = if (headRelationFunctionalIsSubject(r)) r.head.s else r.head.o
    val end   = if (headRelationFunctionalIsSubject(r)) r.head.o else r.head.s
    val path  = scala.collection.mutable.ListBuffer[Atom]()
    var joinV: Term = start
    var last: Atom  = null
    var guard = 0
    while (joinV != end && guard <= r.realBody.size) {
      val atom = r.realBody.find(a => a != last && (a.s == joinV || a.o == joinV)).get
      path += atom
      joinV = if (atom.s == joinV) atom.o else atom.s
      last = atom
      guard += 1
    }
    path.toList
  }

  /** Positions (0=subject, 2=object) at which two atoms share a term
    * (Rule.joinPositions, Rule.java:1729-1741) — same first-match order. */
  private def joinPositions(a1: Atom, a2: Atom): (Int, Int) =
    if (a1.s == a2.s) (0, 0)
    else if (a1.o == a2.o) (2, 2)
    else if (a1.s == a2.o) (0, 2)
    else (2, 0)

  private def relName(t: Term): Option[String] =
    t match { case Const(c) => Some(c); case _ => None }

  /**
   * PCA approximation for >3-atom single-path rules — the telescoped
   * product over the chain (MA:1037-1091; last formula of AMIE+ p.15):
   * the denominator multiplies, per chain hop, the join overlap scaled
   * by functionalities and the previous relation's column size. Pure
   * stats arithmetic; pruning-only like [[pcaApproximation3]].
   */
  def pcaApproximationPath(r: Rule, support: Long): Option[Double] = {
    if (!containsSinglePath(r)) return None
    val path = canonicalPath(r)
    val headRel = relName(r.head.p).getOrElse(return None)
    val rels    = path.map(a => relName(a.p).getOrElse(return None))

    def fun(rel: String, inversed: Boolean): Double =
      if (inversed) stats.inverseFunctionality(rel) else stats.functionality(rel)
    def overlapOf(j: (Int, Int), r1: String, r2: String): Double = j match {
      case (0, 0) => overlapStats.overlap(r1, r2, 0, 0)
      case (2, 2) => overlapStats.overlap(r1, r2, 2, 2)
      case (0, 2) => overlapStats.overlap(r1, r2, 0, 2)
      case _      => overlapStats.overlap(r2, r1, 0, 2) // (2,0): swap sides
    }

    val j0    = joinPositions(path.head, r.head)
    val funr1 = fun(rels.head, inversed = j0._1 != 0)
    if (funr1 == 0) return None
    var denominator = overlapOf(j0, rels.head, headRel) / funr1

    for (i <- 1 until path.size) {
      val j     = joinPositions(path(i - 1), path(i))
      val rewrite = j._2 != 0
      val funri  = fun(rels(i), rewrite)
      val ifunri = fun(rels(i), !rewrite) // inverseFunctionality(r, rewrite)
      val rng = stats.relations.get(rels(i - 1))
        .map(s => if (j._1 == 0) s.distinctSubj else s.distinctObj)
        .getOrElse(0L).toDouble
      if (funri == 0 || rng == 0) return None
      denominator *= (overlapOf(j, rels(i - 1), rels(i)) * ifunri) / (rng * funri)
    }
    if (denominator == 0) None else Some(support.toDouble / denominator)
  }

  /**
   * PCA-confidence approximation for 3-atom rules — the functionality
   * heuristic (MiningAssistant.calculateConfidenceApproximationFor3Atoms,
   * MA:1127-1202; AMIE+ §6.2.2): estimates the PCA denominator from
   * per-relation functionalities, column sizes and the overlap tables —
   * pure broadcast-stats arithmetic, ZERO joins. Used only to prune
   * (estimate < threshold ⇒ drop); exact metrics are never replaced.
   */
  def pcaApproximation3(r: Rule, support: Long): Option[Double] =
    hardTypeIII(r).flatMap { case (t1, t2, posInT2, posInT1) =>
      val funVar = (if (headRelationFunctionalIsSubject(r)) r.head.s else r.head.o) match {
        case v: Var => v; case _ => return None
      }
      val funPos = if (headRelationFunctionalIsSubject(r)) 0 else 2
      // input = atom carrying the functional head variable
      val (input, output, posCommonInput, posCommonOutput) =
        if (!t1.vars.contains(funVar) && t2.vars.contains(funVar)) (t2, t1, posInT2, posInT1)
        else if (!t2.vars.contains(funVar) && t1.vars.contains(funVar)) (t1, t2, posInT1, posInT2)
        else return None
      val (inRel, outRel, headRel) = (input.p, output.p, r.head.p) match {
        case (Const(a), Const(b), Const(c)) => (a, b, c)
        case _                              => return None
      }
      def colFun(rel: String, subjectSide: Boolean): Double =
        if (subjectSide) stats.functionality(rel) else stats.inverseFunctionality(rel)
      val funcInput  = colFun(inRel, subjectSide = posCommonInput != 0)
      val funcOutput = colFun(outRel, subjectSide = posCommonOutput == 0)
      val ifuncOutput = colFun(outRel, subjectSide = posCommonOutput != 0)
      val nentities = stats.relations.get(inRel)
        .map(s => if (posCommonInput == 0) s.distinctSubj else s.distinctObj)
        .getOrElse(0L).toDouble
      val overlapBody = overlapStats.overlap(inRel, outRel, posCommonInput, posCommonOutput)
      val posInput    = if (posCommonInput == 0) 2 else 0 // non-shared input side
      val overlapHead = overlapStats.overlap(inRel, headRel, posInput, funPos)
      if (funcInput == 0 || funcOutput == 0 || nentities == 0) return None
      val f4    = (1.0 / funcInput) * (overlapBody / nentities)
      val ratio = overlapHead * f4 * (ifuncOutput / funcOutput)
      if (ratio == 0) None else Some(support.toDouble / ratio)
    }
}

object Metrics {
  /** Max single-row aggregate plans unioned into one Spark job. Catalyst
    * planning cost grows superlinearly with union width; chunking keeps
    * each job's plan bounded while still batching dozens of measurements
    * per job (vs the reference's one KB call per rule). */
  val JobChunk = 24
}

/** Deferred scoring batch: `pools` are (plans, chunk-size) families for
  * [[graft.kb.Jobs.collectPools]]; `finish` turns the pools' collected
  * rows (same order) into the scored rules. */
private[mine] final case class ScoringPlan(
    pools: Seq[(Seq[DataFrame], Int)],
    finish: IndexedSeq[Seq[Row]] => Seq[ScoredRule])

/**
 * Relation-pair overlap tables (reference KB.java:469-648: subject–
 * subject, subject–object, object–object entity overlaps), collected
 * once and used as broadcast-style driver maps by the functionality
 * heuristic. Size is #relation-pairs — tiny relative to the KB.
 */
final class OverlapStats(
    ss: Map[(String, String), Long],
    so: Map[(String, String), Long],
    oo: Map[(String, String), Long]) {

  /** |entities of r1 at pos1 ∩ entities of r2 at pos2|; pos 0 = subject,
    * 2 = object (the reference's column codes). */
  def overlap(r1: String, r2: String, pos1: Int, pos2: Int): Double =
    ((pos1, pos2) match {
      case (0, 0) => ss.get((r1, r2)).orElse(ss.get((r2, r1)))
      case (2, 2) => oo.get((r1, r2)).orElse(oo.get((r2, r1)))
      case (0, 2) => so.get((r1, r2))
      case (2, 0) => so.get((r2, r1))
      case _      => None
    }).getOrElse(0L).toDouble
}

object OverlapStats {
  def compute(triples: org.apache.spark.sql.DataFrame): OverlapStats = {
    def collectPairs(pos1: String, pos2: String) =
      graft.kb.KGStats.overlaps(triples, pos1, pos2).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    new OverlapStats(
      collectPairs("subj", "subj"),
      collectPairs("subj", "obj"),
      collectPairs("obj", "obj"))
  }
}
