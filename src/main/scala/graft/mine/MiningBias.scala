package graft.mine

import graft.kb.{Const, Var}

/**
 * The assistant-variant extension surface — the Spark re-expression of the
 * reference's mining-assistant factory
 * (mining/src/main/java/amie/mining/assistant/MiningAssistantFactory.java:33-90,
 * bias names `oneVar|default|signatured|lazy|lazit`,
 * mining/.../utils/AMIEOptions.java:185-189). A bias changes HOW counts are
 * computed, never the rule algebra: the BFS, operators and thresholds live
 * in [[Miner]]; a bias supplies the counting variables.
 *
 * These reference variants have no bias of their own:
 *  - `lazy` and `lazit` (LazyMiningAssistant.java:40-88,
 *    LazyIteratorMiningAssistant) bound the std/PCA denominator counts at
 *    `ceil(support/minConf)+1`. That saves one KB query per denominator in
 *    the reference; here a level's support, body and PCA counts already
 *    run as one fused plan, and a truncated count only ever pushes a
 *    failing rule further below its threshold, so the emitted rules equal
 *    the default bias's. `MineCLI` resolves both names to
 *    [[MiningBias.Default]].
 *  - the variable-order family (DefaultMiningAssistantWithOrder.java:37-59
 *    + variableorder/AppearanceOrder|FunctionalOrder|InverseOrder) picks
 *    which head variable the reference's recursive pair count iterates
 *    FIRST — the resulting distinct-pair cardinality is order-independent,
 *    and execution order inside `countDistinct(struct(x, y))` belongs to
 *    Catalyst here. Semantically N/A by re-architecture.
 */
sealed trait MiningBias {

  /** Variables whose distinct bindings define support and the confidence
    * denominators for a rule. */
  def countVars(metrics: Metrics, r: Rule): Seq[Var]

  /** Relations a bias bans from heads and bodies (the `signatured` bias
    * excludes the schema relations themselves,
    * RelationSignatureDefaultMiningAssistant.java:29-33). */
  def excludedRelations: Set[String] = Set.empty

  /** Variables a dangling (O_D) atom may join. Default: every variable of
    * the rule (DefaultMiningAssistant.java:253-406). */
  def danglingJoinVars(r: Rule): Seq[Var] = r.allVars

  /** Ordered variable pairs a closing (O_C) atom may connect. Default:
    * every ordered pair (DMA:98-243). */
  def closingPairs(r: Rule): Seq[(Var, Var)] =
    for { v1 <- r.allVars; v2 <- r.allVars if v1 != v2 } yield (v1, v2)

  /** Extra atoms appended to a closed rule before scoring/output (the
    * `signatured` bias adds `type(x, domain(rh))` / `type(y, range(rh))`,
    * RelationSignatureDefaultMiningAssistant.java:49-86). Default: none. */
  def typeConstraints(r: Rule): List[graft.kb.Atom] = Nil

  /** Extra atoms appended to SUPPORT-like counts only (candidate
    * counting, rule support, head size) — NOT to the confidence
    * denominators, mirroring the seeds-count assistant where
    * `seedsCardinality` restricts support to the schema-subject set but
    * the base class computes body/PCA sizes unrestricted
    * (SeedsCountMiningAssistant.java:81-90 + MiningAssistant
    * calculateConfidenceMetrics). Default: none. */
  def countConstraints(metrics: Metrics, r: Rule): List[graft.kb.Atom] = Nil

  /** May this rule be emitted? Base: closed rules only
    * (MiningAssistant.shouldBeOutput, MA:949-951). */
  def acceptForOutput(r: Rule): Boolean = r.isClosed

  /** Denominator of the SupportRatio output column (the seeds-count
    * assistant's getTotalCount returns the schema subject count,
    * SeedsCountMiningAssistant.java:35-37). None = KB fact count. */
  def supportRatioDenom: Option[Long] = None

  /** Also seed rules with the head instantiated in the non-functional
    * argument (`⇒ r(x, C)` — InstantiatedHeadMiningAssistant
    * .getInitialAtoms). */
  def instantiatedHeadSeeds: Boolean = false

  /** Also rewrite refinable rules' open-variable atoms into
    * exists/existsInv meta-atoms ([[MiningBias.ExistentialRules]],
    * ExistentialRulesMiningAssistant.getClosingAtoms :46-79). */
  def existsRewrites: Boolean = false

  /** May variable `name` stay open in an emitted rule? Drives the
    * last-level closing requirement (DMA:127-137 max-length pruning):
    * a closing atom at the depth limit must leave open only variables
    * the bias's output criterion tolerates. Base: none. */
  def mayStayOpenAtOutput(r: Rule, name: String): Boolean = false
}

object MiningBias {

  /** Synthetic relation carrying the seed-subject set for the
    * seeds-count bias. */
  val SeedRelation = "graft:seedSubject"

  /** Union `kb` with one `SeedRelation` fact per distinct subject of
    * `schema` and return (the augmented KB, the seed count) — the Spark
    * re-expression of the reference's separate schema KB
    * (SeedsCountMiningAssistant constructor: allSubjects =
    * schemaSource.selectDistinct(subject)). The seed set rides in the
    * KB as ordinary facts so every counting job can restrict by one
    * more join; the bias bans the relation from rules. */
  def withSeedSubjects(
      kb: org.apache.spark.sql.DataFrame,
      schema: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.functions._
    // the synthetic relation must not collide with a real one — a KB that
    // already carries it would silently corrupt every support count
    require(kb.where(col("pred") === SeedRelation).limit(1).isEmpty,
      s"input KB already contains the reserved relation $SeedRelation")
    val seeds = schema.select("subj").distinct()
    val facts = seeds.select(col("subj"),
      lit(SeedRelation).as("pred"), lit("1").as("obj"))
    (kb.select("subj", "pred", "obj").union(facts), seeds.count())
  }

  /** DefaultMiningAssistant: support = #distinct bindings of BOTH head
    * variables (DMA:636-655). */
  case object Default extends MiningBias {
    def countVars(metrics: Metrics, r: Rule): Seq[Var] = r.headVars
  }

  /** The base MiningAssistant (`oneVar`): support counts the FUNCTIONAL
    * head variable only (MiningAssistant.java:1394-1404 — countDistinct on
    * `rule.getFunctionalVariable()`). */
  case object OneVar extends MiningBias {
    def countVars(metrics: Metrics, r: Rule): Seq[Var] = {
      val t = if (metrics.headRelationFunctionalIsSubject(r)) r.head.s else r.head.o
      t match {
        case v: Var => Seq(v)
        case _      => r.headVars // instantiated functional position
      }
    }
  }

  /**
   * AnyBurlMiningAssistant (pyclause/AnyBurlMiningAssistant.java:26-185):
   * mine PATH rules only, the shape PyClause/AnyBURL consumes. Dangling
   * atoms extend the chain at the LAST body atom's open end (the head's
   * subject when the body is empty); closing atoms connect the chain's
   * end to the head's object. Export with [[RuleSink.toAnyBurlDF]].
   */
  case object AnyBurl extends MiningBias {
    def countVars(metrics: Metrics, r: Rule): Seq[Var] = r.headVars

    override def danglingJoinVars(r: Rule): Seq[Var] =
      if (r.isClosed) Nil // a closed path re-opened would fork the chain
      else if (r.body.isEmpty) r.head.s match {
        case v: Var => Seq(v)
        case _      => r.headVars.take(1)
      }
      else {
        val open = r.openVars.toSet
        val last = r.body.filterNot(_.isPseudo).last
        (last.s, last.o) match {
          case (v: Var, _) if open(v) => Seq(v)
          case (_, v: Var) if open(v) => Seq(v)
          case _                      => Nil
        }
      }

    override def closingPairs(r: Rule): Seq[(Var, Var)] =
      if (r.isClosed) Nil
      else if (r.body.isEmpty)
        super.closingPairs(r) // level 1: any pair (the reference falls back
                              // to open × openable, AnyBurlMiningAssistant.java:46-57)
      else {
        val open = r.openVars.toSet
        val last = r.body.filterNot(_.isPseudo).last
        val chainEnd = Seq(last.s, last.o).collect { case v: Var if open(v) => v }
        val headEnd  = Seq(r.head.o).collect { case v: Var => v }
        for { a <- chainEnd; b <- headEnd if a != b; p <- Seq((a, b), (b, a)) } yield p
      }
  }

  /**
   * RelationSignatureDefaultMiningAssistant: enforce the head relation's
   * rdfs:domain/rdfs:range on the head variables — closed rules are scored
   * (and emitted) with `type(x, domain(rh))` / `type(y, range(rh))` atoms
   * appended to the body
   * (RelationSignatureDefaultMiningAssistant.java:49-103; domain/range
   * lookup Schema.java:415-458), and the schema relations themselves are
   * banned from rules (:29-33).
   *
   * `domains`/`ranges` map relation → class (built by
   * [[graft.kb.Taxonomy.relationSignatures]] from rdfs:domain/rdfs:range
   * facts); relations without a declared signature add no constraint.
   */
  final case class Signatured(
      domains: Map[String, String],
      ranges: Map[String, String],
      typeRelation: String = "rdf:type") extends MiningBias {

    def countVars(metrics: Metrics, r: Rule): Seq[Var] = r.headVars

    override val excludedRelations: Set[String] =
      Set(typeRelation, "rdfs:domain", "rdfs:range")

    override def typeConstraints(r: Rule): List[graft.kb.Atom] = {
      val headRel = r.head.p match { case Const(p) => p; case _ => return Nil }
      val dom = (r.head.s, domains.get(headRel)) match {
        case (v: Var, Some(cls)) =>
          List(graft.kb.Atom(v, Const(typeRelation), Const(cls)))
        case _ => Nil
      }
      val rng = (r.head.o, ranges.get(headRel)) match {
        case (v: Var, Some(cls)) =>
          List(graft.kb.Atom(v, Const(typeRelation), Const(cls)))
        case _ => Nil
      }
      dom ++ rng
    }
  }

  /**
   * SeedsCountMiningAssistant (experimental/SeedsCountMiningAssistant
   * .java:17-90): support = #distinct bindings of the FUNCTIONAL head
   * variable restricted to a seed-subject set (the reference's schema
   * KB subjects), confidence denominators unrestricted, supportRatio =
   * support / #seeds. Build the KB with [[MiningBias.withSeedSubjects]];
   * the restriction is one extra atom over the synthetic seed relation
   * in every support-like count (a semi-join in the compiled plan).
   */
  final case class SeedsCount(
      seedCount: Long,
      seedRelation: String = MiningBias.SeedRelation) extends MiningBias {

    def countVars(metrics: Metrics, r: Rule): Seq[Var] =
      OneVar.countVars(metrics, r)

    override def countConstraints(metrics: Metrics, r: Rule): List[graft.kb.Atom] =
      countVars(metrics, r).headOption.map { v =>
        // marker variable derived fresh against the rule: a rule that ever
        // carried a variable with the marker's name would otherwise make
        // the seed atom join on it and corrupt the count
        val used  = r.allVars.map(_.name).toSet
        val fresh = Iterator.from(0).map(i => s"__seed$i").find(!used(_)).get
        graft.kb.Atom(v, Const(seedRelation), Var(fresh))
      }.toList

    override val excludedRelations: Set[String] = Set(seedRelation)
    override def supportRatioDenom: Option[Long] = Some(seedCount)
  }

  /** InstantiatedHeadMiningAssistant (experimental/
    * InstantiatedHeadMiningAssistant.java:17-120): seeds additionally
    * include `⇒ r(x, C)` for every constant C of the head's
    * non-functional argument with enough support; counting always on
    * the functional variable. */
  case object InstantiatedHead extends MiningBias {
    def countVars(metrics: Metrics, r: Rule): Seq[Var] =
      OneVar.countVars(metrics, r)
    override def instantiatedHeadSeeds: Boolean = true
  }

  /**
   * ExistentialRulesHeadVariablesMiningAssistant (experimental/
   * ExistentialRulesHeadVariablesMiningAssistant.java:20-136): also
   * emit rules where a HEAD variable stays open (body-only variables
   * must still close; single-atom seeds are never output, matching the
   * reference's length guard at :109-111). Confidence denominators are
   * computed over the body-bound counting variables — the open head
   * variable is constrained only by the head atom, so it cannot appear
   * in a body-only count (the reference hits the same shape as an
   * UnsupportedOperationException fallback; here it is handled
   * explicitly in Metrics.planScoring).
   */
  case object Existential extends MiningBias {
    def countVars(metrics: Metrics, r: Rule): Seq[Var] = r.headVars
    override def acceptForOutput(r: Rule): Boolean = {
      if (r.length < 2) return false
      val headVarNames = r.headVars.map(_.name).toSet
      r.openVars.forall(v => headVarNames(v.name))
    }
    override def mayStayOpenAtOutput(r: Rule, name: String): Boolean =
      r.headVars.exists(_.name == name)
  }

  /**
   * ExistentialRulesMiningAssistant (experimental/
   * ExistentialRulesMiningAssistant.java:14-81 — reachable only through
   * the factory's reflective FQCN `-bias` branch,
   * MiningAssistantFactory.java:48-73): default counting, plus a
   * refinement-time operator that ALSO emits, for a rule with open
   * variables, the variant where every atom carrying an open variable
   * becomes an exists/existsInv meta-atom — the open variable drops out
   * as an existential ([[graft.mine.Miner.existsRewrite]]). Two
   * documented deviations from the (dead-code) original:
   * (a) the reference maps subject-open → exists and object-open →
   *     existsInv (:56-63), which under its own KB semantics
   *     (KB.java:957-968: exists(r, X) ranges over SUBJECTS of r)
   *     asserts the wrong position — here the logically-faithful
   *     mapping is used (subject-open → existsInv(rel, obj),
   *     object-open → exists(rel, subj));
   * (b) rules whose HEAD carries an open variable are not rewritten:
   *     the reference hardwires exists-head cardinality to -1
   *     (:18-29), so their head coverage is negative and they can never
   *     reach the output — not generating them is observably identical.
   */
  case object ExistentialRules extends MiningBias {
    def countVars(metrics: Metrics, r: Rule): Seq[Var] = r.headVars
    override def existsRewrites: Boolean = true
  }
}
