package graft.kb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Taxonomy layer — the Spark re-expression of the reference's schema
 * utilities (kb/src/main/java/amie/data/Schema.java):
 *
 *  - transitive closure of `rdfs:subClassOf`-style edge sets
 *    (Schema.java:546-572,665-691 does per-query BFS over in-memory maps;
 *    here one driver-looped iterative self-join to fixpoint, doubling the
 *    reachable depth per iteration, so `ceil(log2(depth))` shuffles);
 *  - `transitiveType` expansion (AbstractKB.java:91-133 meta-relation):
 *    instances of a class or any of its subclasses.
 */
object Taxonomy {

  /**
   * All (sub, ancestor) pairs reachable through `edges(child, parent)`.
   * Exponential-squaring closure: after k rounds paths of length ≤ 2^k
   * are covered — 30 rounds cover any real taxonomy; terminates early at
   * fixpoint (checked with one count per round on the deduped frontier).
   */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    var closure = edges.toDF("child", "parent").distinct().localCheckpoint(true)
    var size    = closure.count()
    var done    = false
    var iter    = 0
    while (!done && iter < maxIter) {
      val next = closure.as("a")
        .join(closure.as("b"), col("a.parent") === col("b.child"))
        .select(col("a.child"), col("b.parent"))
        .union(closure)
        .distinct()
        .localCheckpoint(true)
      val n = next.count()
      done = n == size
      closure = next
      size = n
      iter += 1
    }
    closure
  }

  /** parent class → DIRECT subclasses (Schema.getSubTypes semantics,
    * Schema.java:586-607), as a deterministic driver map — the shape the
    * miner's type-specialization operator consumes. Vocabulary-sized. */
  def directSubTypes(subClassOf: DataFrame): Map[String, Seq[String]] =
    subClassOf.toDF("child", "parent").distinct().collect()
      .map(r => r.getString(1) -> r.getString(0))
      .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).toSeq.sorted }

  /**
   * Relation → declared domain/range class, from `rdfs:domain` /
   * `rdfs:range` facts in the KB — the reference's
   * Schema.getRelationDomain/getRelationRange (Schema.java:415-458)
   * without the sub-property fallback unless `subPropertyOf` edges are
   * supplied (then a relation inherits its nearest ancestor's signature,
   * Schema.java:434-458). Ambiguity resolves to the lexicographic
   * minimum, deterministically. Returns (domains, ranges) driver maps —
   * schema tables are vocabulary-sized.
   */
  def relationSignatures(
      triples: DataFrame,
      domainRelation: String = "rdfs:domain",
      rangeRelation: String = "rdfs:range",
      subPropertyRelation: String = "rdfs:subPropertyOf")
      : (Map[String, String], Map[String, String]) = {
    // ONE driver job for all three schema relations (r5 ran three
    // sequential collects — a driver-job cascade measured as the dominant
    // cost of the domain-set queries at sf0.1); the collected table is
    // vocabulary-sized by the same contract as before.
    val facts = triples
      .where(col("pred").isin(domainRelation, rangeRelation, subPropertyRelation))
      .select("subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val directParents = parentsOf(facts, subPropertyRelation)
    (withFallback(declaredOf(facts, domainRelation), directParents),
      withFallback(declaredOf(facts, rangeRelation), directParents))
  }

  /** rel → lexicographically-smallest declared class among `rel` facts —
    * the ambiguity rule of the former per-relation `min("obj")` job. */
  private def declaredOf(facts: Array[(String, String, String)],
      rel: String): Map[String, String] =
    facts.iterator.filter(_._2 == rel).toSeq
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._3).min }

  private def parentsOf(facts: Array[(String, String, String)],
      rel: String): Map[String, Seq[String]] =
    facts.iterator.filter(_._2 == rel).map(f => (f._1, f._3)).toSeq.distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }

  // NEAREST declared ancestor (Schema.java:434-458 recurses one level at
  // a time): BFS by parent levels, ties at a level broken by the
  // lexicographically-smallest ancestor — deterministic at any scale.
  private def withFallback(m: Map[String, String],
      directParents: Map[String, Seq[String]]): Map[String, String] = {
    val inherited = directParents.keysIterator.filterNot(m.contains).flatMap { rel =>
      val visited  = scala.collection.mutable.Set(rel)
      var frontier = directParents.getOrElse(rel, Nil).filterNot(visited)
      var found    = Option.empty[String]
      while (found.isEmpty && frontier.nonEmpty) {
        val withDecl = frontier.filter(m.contains).sorted
        if (withDecl.nonEmpty) found = Some(m(withDecl.head))
        else {
          visited ++= frontier
          frontier = frontier.flatMap(p => directParents.getOrElse(p, Nil))
            .distinct.filterNot(visited).sorted
        }
      }
      found.map(rel -> _)
    }.toMap
    m ++ inherited
  }

  /** Entities typed with `cls` or any subclass of it — the
    * `transitiveType` meta-relation (Schema.java:341-350 materialized
    * variant). `types` = (entity, class) facts. */
  def transitiveInstances(types: DataFrame, subClassOf: DataFrame, cls: String): DataFrame = {
    val closure = transitiveClosure(subClassOf)
    val subs = closure.where(col("parent") === cls).select(col("child").as("cls"))
      .union(types.sparkSession.createDataFrame(Seq(Tuple1(cls))).toDF("cls"))
      .distinct()
    types.toDF("entity", "cls").join(broadcast(subs), "cls")
      .select(col("entity")).distinct()
  }

  /** Schema.getDomainSet(KB, relation) parity (Schema.java:608-621):
    * all entities of the relation's DECLARED domain class unioned with
    * the subjects actually observed for the relation. `kb` carries its
    * schema facts (`rdf:type`, `rdfs:subClassOf`, `rdfs:domain`,
    * `rdfs:range`, `rdfs:subPropertyOf`) inline alongside the data
    * facts, like the reference's schema-enabled KBs. No declared domain
    * ⇒ the observed subjects alone (Schema.java:616-617 skips the type
    * scan). One column: `entity`.
    *
    * `subclassClosure`: the reference's getAllEntitiesForType
    * (Schema.java:575-585) is a DIRECT `rdf:type` lookup — no subclass
    * closure — so `false` (the default) is exact parity. `true` widens
    * the type scan to instances of subclasses of the declared class
    * (the [[transitiveInstances]] entailment) — the deliberate superset
    * a KB WITHOUT materialized type closure usually wants (ADVICE r4:
    * the two semantics differ exactly on entities typed only through a
    * subclass). */
  def domainSet(kb: DataFrame, relation: String,
      typeRelation: String = "rdf:type",
      subClassRelation: String = "rdfs:subClassOf",
      subclassClosure: Boolean = false): DataFrame =
    signatureSet(kb, relation, "subj", wantDomain = true,
      typeRelation, subClassRelation, subclassClosure)

  /** Schema.getRangeSet mirror (Schema.java:695-712): declared range
    * class instances ∪ observed objects. Same `subclassClosure` contract
    * as [[domainSet]]. */
  def rangeSet(kb: DataFrame, relation: String,
      typeRelation: String = "rdf:type",
      subClassRelation: String = "rdfs:subClassOf",
      subclassClosure: Boolean = false): DataFrame =
    signatureSet(kb, relation, "obj", wantDomain = false,
      typeRelation, subClassRelation, subclassClosure)

  /** Cap (rows) on the single-job schema-fact collect below; a KB whose
    * schema layer is NOT vocabulary-sized falls back to the distributed
    * closure path. Schema facts are class/relation-level statements, so
    * real KBs sit orders of magnitude under this. */
  private val SchemaCollectCap = 2000000

  /** ALL schema facts (domain, range, subProperty, subClass) in ONE
    * capped driver job — replaces the r5 cascade of 3 collects + a
    * per-round iterative closure job per signatureSet call (measured:
    * a domain-set query took 4.1 s vs its 1.6 s floor at sf0.1, all driver-job
    * latency). None above the cap. */
  private def schemaFactsCapped(kb: DataFrame,
      subClassRelation: String): Option[Array[(String, String, String)]] = {
    val rows = kb.where(col("pred").isin(
        "rdfs:domain", "rdfs:range", "rdfs:subPropertyOf", subClassRelation))
      .select("subj", "pred", "obj")
      .limit(SchemaCollectCap + 1).collect()
    if (rows.length > SchemaCollectCap) None
    else Some(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))))
  }

  /** All strict descendants of `cls` through collected subClass edges —
    * the driver-side mirror of [[transitiveClosure]] restricted to one
    * ancestor (deterministic BFS; vocabulary-sized by the collect cap). */
  private def descendantsOf(children: Map[String, Seq[String]],
      cls: String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    var frontier = children.getOrElse(cls, Nil)
    while (frontier.nonEmpty) {
      val fresh = frontier.filterNot(seen)
      seen ++= fresh
      frontier = fresh.flatMap(c => children.getOrElse(c, Nil))
    }
    seen.toSeq
  }

  /** Distinct entities typed `cls` (or any subclass when
    * `subclassClosure`, via the collected edge set) — output-identical to
    * [[transitiveInstances]] over the same KB. */
  private def typedEntities(kb: DataFrame,
      facts: Array[(String, String, String)], cls: String,
      typeRelation: String, subClassRelation: String,
      subclassClosure: Boolean): DataFrame = {
    val classes: Seq[String] =
      if (!subclassClosure) Seq(cls)
      else {
        val children = facts.iterator.filter(_._2 == subClassRelation)
          .map(f => (f._3, f._1)).toSeq.distinct
          .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).sorted }
        cls +: descendantsOf(children, cls)
      }
    kb.where(col("pred") === typeRelation && col("obj").isin(classes: _*))
      .select(col("subj").as("entity")).distinct()
  }

  private def signatureSet(kb: DataFrame, relation: String, pos: String,
      wantDomain: Boolean, typeRelation: String,
      subClassRelation: String, subclassClosure: Boolean): DataFrame = {
    val observed = kb.where(col("pred") === relation)
      .select(col(pos).as("entity")).distinct()
    schemaFactsCapped(kb, subClassRelation) match {
      case Some(facts) =>
        val directParents = parentsOf(facts, "rdfs:subPropertyOf")
        val declared = withFallback(
          declaredOf(facts, if (wantDomain) "rdfs:domain" else "rdfs:range"),
          directParents)
        declared.get(relation) match {
          case None      => observed
          case Some(cls) =>
            typedEntities(kb, facts, cls, typeRelation, subClassRelation,
              subclassClosure).union(observed).distinct()
        }
      case None => // schema layer over the cap: distributed closure path
        val (doms, rngs) = relationSignatures(kb)
        (if (wantDomain) doms else rngs).get(relation) match {
          case None => observed
          case Some(cls) =>
            val types = kb.where(col("pred") === typeRelation)
              .select(col("subj"), col("obj"))
            val typed =
              if (subclassClosure) {
                val subs = kb.where(col("pred") === subClassRelation)
                  .select(col("subj"), col("obj"))
                transitiveInstances(types, subs, cls)
              } else types.where(col("obj") === cls)
                .select(col("subj").as("entity")).distinct()
            typed.union(observed).distinct()
        }
    }
  }

  /**
   * Schema.getHistogramOnDomain parity (Schema.java:742-779): the
   * distribution of facts-per-entity of `relation`, measured on its more
   * functional side and restricted to entities of the matching declared
   * type — `subclassClosure` as in [[domainSet]] (default false = the
   * reference's direct getAllEntitiesForType lookup, Schema.java:575-585;
   * true = the subclass-entailed superset). A functional relation
   * (functionality ≥ inverse functionality, the reference's
   * KB.isFunctional) counts facts per SUBJECT against the declared
   * `rdfs:domain` class; otherwise per OBJECT against the declared
   * `rdfs:range` class. (The reference's non-functional branch enumerates
   * subject-position bindings under a swapped variable label,
   * Schema.java:757-759 — this implementation mirrors the functional
   * branch's semantics onto the object side instead of reproducing the
   * label mix-up.) No declared class ⇒ empty histogram
   * (Schema.java:753-755). Facts are set-semantics distinct triples, so
   * per-entity fact counts equal distinct-value counts, as in the
   * reference's in-memory KB. Output: (n, entities) — #entities of the
   * declared type with exactly n facts.
   */
  def histogramOnDomain(kb: DataFrame, relation: String, stats: KGStats,
      typeRelation: String = "rdf:type",
      subClassRelation: String = "rdfs:subClassOf",
      subclassClosure: Boolean = false): DataFrame = {
    val functional =
      stats.functionality(relation) >= stats.inverseFunctionality(relation)
    val keyPos = if (functional) "subj" else "obj"
    def hist(typed: DataFrame) =
      kb.where(col("pred") === relation)
        .groupBy(col(keyPos).as("entity")).agg(count(lit(1)).as("n"))
        .join(typed, "entity")
        .groupBy("n").agg(count(lit(1)).as("entities"))
    val empty = kb.limit(0).select(lit(0L).as("n"), lit(0L).as("entities"))
    schemaFactsCapped(kb, subClassRelation) match {
      case Some(facts) =>
        val directParents = parentsOf(facts, "rdfs:subPropertyOf")
        val declared = withFallback(
          declaredOf(facts, if (functional) "rdfs:domain" else "rdfs:range"),
          directParents)
        declared.get(relation) match {
          case None      => empty
          case Some(cls) => hist(typedEntities(kb, facts, cls, typeRelation,
            subClassRelation, subclassClosure))
        }
      case None => // schema layer over the cap: distributed closure path
        val (doms, rngs) = relationSignatures(kb)
        (if (functional) doms else rngs).get(relation) match {
          case None => empty
          case Some(cls) =>
            val types = kb.where(col("pred") === typeRelation)
              .select(col("subj"), col("obj"))
            val typed =
              if (subclassClosure) {
                val subs = kb.where(col("pred") === subClassRelation)
                  .select(col("subj"), col("obj"))
                transitiveInstances(types, subs, cls)
              } else types.where(col("obj") === cls)
                .select(col("subj").as("entity")).distinct()
            hist(typed)
        }
    }
  }
}
