package graft.kb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Conjunctive-query → DataFrame compiler.
 *
 * Replaces the reference's recursive index-nested-loop evaluator
 * (kb/src/main/java/amie/data/KB.java:1770-3188: existsBS1,
 * selectDistinct, countDistinct, countProjection…): every atom becomes a
 * filtered projection of the triples table, atoms are folded into
 * equi-joins on shared variable columns, and Catalyst (CBO + AQE)
 * replaces the reference's "most restrictive triple" greedy ordering
 * (KB.java:1631-1645). The whole recursion collapses into ONE declarative
 * plan, so predicate pushdown / join reordering / broadcast selection are
 * free.
 */
object QueryBuilder {

  /**
   * Compile a conjunction of atoms over `triples(subj,pred,obj)` into a
   * DataFrame with one column per variable (non-distinct bindings).
   *
   * - constants become pushed-down filters;
   * - a variable repeated inside one atom becomes an intra-row equality;
   * - [[Atom.DifferentFrom]] / [[Atom.Equals]] pseudo-atoms become
   *   post-join filters (reference KB.java:831-870);
   * - atoms are greedily ordered for connectivity only (avoid accidental
   *   cross joins); cardinality ordering is left to Catalyst.
   */
  def bindings(triples: DataFrame, atoms: Seq[Atom]): DataFrame =
    bindings(triples, atoms, None)

  /**
   * As [[bindings]], with optional KG statistics driving a
   * most-restrictive-first greedy join order (the Spark analog of the
   * reference's "most restrictive triple" selection, KB.java:1631-1645,
   * but System-R-style: cardinality-estimated from per-relation size and
   * distinct-subject/object counts instead of live index probes).
   * Ordering never changes the result set — only the plan shape; without
   * stats the connectivity-only order is used and Catalyst's own
   * strategies do the rest.
   */
  def bindings(triples: DataFrame, atoms: Seq[Atom], stats: Option[KGStats]): DataFrame =
    compile(triples, atoms, stats, None)

  /**
   * As [[bindings]], additionally applying the reference's
   * existential-variable detection (`optimExistentialDetection`,
   * KB.java:1793-1835,1991-2029): a variable occurring in exactly ONE atom
   * of the conjunction and absent from `keep` can never affect the
   * distinct image of the kept variables, so that atom is pre-projected
   * onto its remaining variables and DEDUPLICATED before joining — the
   * Spark shape of "check existence once instead of enumerating". Without
   * this, a batched candidate-counting join materializes every
   * (binding × existential-witness) row only for the final
   * `countDistinct` to collapse them (measured: a 150k-row head joined
   * through a 25-value hub against a fresh dangling variable builds ~10⁸
   * intermediate rows whose distinct image is 150k).
   *
   * ONLY callers that aggregate with DISTINCT over (a subset of) `keep`
   * may use this entry point: per-row multiplicities are NOT preserved.
   * An atom whose every variable is existential degrades to a 1-row
   * existence gate (`limit(1)`), the cross-scope check of
   * KB.differenceNoVarsInCommon (KB.java:3423-3453).
   */
  def distinctableBindings(triples: DataFrame, atoms: Seq[Atom],
      keep: Set[String], stats: Option[KGStats]): DataFrame =
    compile(triples, atoms, stats, Some(keep))

  private def compile(triples: DataFrame, atoms: Seq[Atom],
      stats: Option[KGStats], keep: Option[Set[String]]): DataFrame = {
    require(atoms.nonEmpty, "empty conjunctive query")
    val (pseudo, rest)        = atoms.partition(_.isPseudo)
    val (meta, positiveAll)   = rest.partition(_.isMeta)
    require(positiveAll.nonEmpty || meta.nonEmpty,
      "query needs at least one non-filter atom")

    // ---- connected-subgraph existential rewrite ----
    // The reference's optimConnectedComponent (KB.java:3026-3058, applied
    // at 3097/3149/3171): a maximal group of ≥2 positive atoms chained
    // through variables that are neither counted nor referenced by any
    // pseudo/meta atom touches the rest of the query through AT MOST one
    // "articulation" variable. Its only effect on the distinct image of
    // `keep` is the SET of articulation values it witnesses (or bare
    // satisfiability when it has no articulation variable), so the group
    // is compiled separately, projected DISTINCT onto that variable —
    // a semi-join table — before joining, instead of fanning the main
    // conjunction out by every internal witness. Generalizes the
    // single-atom dedup below (`keptOf`) to multi-atom witness chains.
    val (componentDFs, positive) = keep match {
      case Some(ks) if positiveAll.size >= 2 =>
        val anchors: Set[String] = ks ++
          (pseudo ++ meta).flatMap(_.vars.map(_.name))
        extractExistentialComponents(triples, positiveAll, anchors, stats)
      case _ => (Nil, positiveAll)
    }

    // #atoms (positive, meta AND pseudo) each variable occurs in — a
    // variable referenced by a pseudo filter or a meta atom is never
    // existential-droppable from the positive atom that binds it
    val occ: Map[String, Int] = atoms
      .flatMap(_.vars.distinct).groupBy(_.name).view.mapValues(_.size).toMap
    // kept variables of a positive atom under existential projection;
    // None = atom unchanged (no keep set, or nothing to drop)
    def keptOf(a: Atom): Option[Seq[Var]] = keep.flatMap { ks =>
      val vs   = a.vars.distinct
      val kept = vs.filter(v => ks(v.name) || occ(v.name) > 1)
      if (kept.size == vs.size) None else Some(kept)
    }
    def table(a: Atom, i: Int): DataFrame = keptOf(a) match {
      case Some(Nil) =>
        atomDF(triples, a).limit(1).select(lit(true).as(s"$ExistGateCol$i"))
      case Some(ks)  =>
        atomDF(triples, a).select(ks.map(v => col(v.name)): _*).distinct()
      case None      => atomDF(triples, a)
    }

    val estimator = stats.map(new Estimator(_))
    def estFor(e: Estimator)(a: Atom): Double = keptOf(a) match {
      case Some(ks) => e.dedupEst(a, ks.map(_.name).toSet)
      case None     => e.baseEst(a)
    }
    val ordered = estimator match {
      case Some(e) => cardinalityOrder(positive, e, estFor(e))
      case None    => connectivityOrder(positive)
    }
    // meta-relation atoms (KB.java:928-1063 placement freedom) lower to
    // derived binding tables joined AFTER the positive conjunction —
    // they are selective unary/binary predicates, and joining the
    // distinct derived table on the shared variable columns is the
    // semi-join the reference's instantiation loop performs
    // derived binding tables join AFTER the positive conjunction: meta
    // tables and rewritten existential components are both selective
    // distinct projections (semi-join shape), so the running estimate can
    // only shrink
    val derived = meta.map(metaDF(triples, _)) ++ componentDFs
    val start   = ordered.headOption.map(table(_, 0)).getOrElse(derived.head)
    val tails: Seq[(DataFrame, Option[Atom])] =
      ordered.drop(1).zipWithIndex
        .map { case (a, i) => (table(a, i + 1), Option(a)) } ++
        (if (ordered.isEmpty) derived.drop(1) else derived).map((_, None))
    var df = start
    // Running output-cardinality estimate and bound-variable set, for the
    // stats path's physical hints (plan shape only — never the result):
    //  - a side whose estimate fits a broadcast gets an explicit
    //    broadcast() hint. Catalyst's own size estimation cannot see
    //    through a filtered cached union (basic stats don't shrink under
    //    a string-equality filter), so hub joins otherwise fall to
    //    sort-merge on a low-cardinality key — at web scale that caps
    //    parallelism at #distinct-keys AND loses the skew-free plan.
    //  - a high-fan-out join (output ≫ both inputs, e.g. two fact atoms
    //    meeting on a 25-value hub variable) gets the SMALL stream side
    //    repartitioned first: post-broadcast-join parallelism equals the
    //    stream side's partition count, and a small input (one parquet
    //    split!) would otherwise drag the whole downstream pipeline —
    //    join, partial distinct — into a single task. Measured at K=10
    //    probe scale: 60M-pair hub join 920 s single-task vs seconds
    //    repartitioned. Never fires on large stream sides (the shuffle
    //    would not be narrow-cheap), which at 100 TB already carry
    //    thousands of splits.
    var est: Double = (estimator, ordered.headOption) match {
      case (Some(e), Some(a)) => estFor(e)(a)
      case _                  => -1.0
    }
    val bound = scala.collection.mutable.Set[String](
      ordered.headOption.toSeq.flatMap(_.vars.map(_.name)): _*)
    for ((right, atomOpt) <- tails) {
      val shared = df.columns.intersect(right.columns).toSeq
      (estimator, atomOpt) match {
        case (Some(e), Some(a)) if est >= 0 && shared.nonEmpty =>
          val rightEst = estFor(e)(a)
          val joint    = e.joinedEst(est, a, bound, rightEst)
          if (est <= FanoutStreamMaxRows && rightEst <= BroadcastMaxRows &&
              joint >= FanoutFactor * math.max(est, rightEst))
            df = df.repartition(shufflePartitions(triples))
          val (l, r) =
            if (rightEst <= BroadcastMaxRows && rightEst <= est)
              (df, broadcast(right))
            else if (est <= BroadcastMaxRows && est < rightEst)
              (broadcast(df), right)
            else (df, right)
          df  = l.join(r, shared)
          est = joint
        case _ =>
          // meta-relation tables and the no-stats path: no estimates.
          // Meta tables are selective distinct projections — est can only
          // shrink, so keeping the running estimate is conservative.
          df = if (shared.isEmpty) df.crossJoin(right) else df.join(right, shared)
      }
      atomOpt.foreach(_.vars.foreach(v => bound += v.name))
    }
    df.columns
      .filter(c => c == MetaGateCol || c.startsWith(ExistGateCol))
      .foreach(c => df = df.drop(c))
    pseudo.foldLeft(df)((d, a) => d.filter(pseudoFilter(d, a)))
  }

  /** Column-name prefix of an all-existential atom's 1-row gate. */
  private val ExistGateCol = "__exist_gate"

  /**
   * Split the positive atoms into (rewritten component tables, atoms kept
   * in the main conjunction) for the connected-subgraph existential
   * rewrite (see [[compile]]). Components are maximal groups connected
   * through FREE variables (∉ `anchors`); a group of ≥2 atoms touching
   * ≤1 anchor variable is compiled recursively (the inner pass applies
   * the per-atom dedup; it cannot recurse further — the group stays one
   * free-connected component under its own single-anchor keep set) and
   * reduced to the distinct anchor values it witnesses, or to a 1-row
   * satisfiability gate when it has no anchor at all. The whole query
   * being ONE component is left untouched: the caller's final distinct
   * aggregation already is that rewrite.
   */
  private def extractExistentialComponents(triples: DataFrame,
      positive: Seq[Atom], anchors: Set[String],
      stats: Option[KGStats]): (Seq[DataFrame], Seq[Atom]) = {
    val n = positive.size
    val parent = Array.tabulate(n)(identity)
    @annotation.tailrec
    def find(i: Int): Int = if (parent(i) == i) i else find(parent(i))
    def union(i: Int, j: Int): Unit = { parent(find(i)) = find(j) }
    val firstByVar = scala.collection.mutable.Map[String, Int]()
    for ((a, i) <- positive.zipWithIndex;
         v <- a.vars.map(_.name).distinct if !anchors(v))
      firstByVar.get(v) match {
        case Some(j) => union(i, j)
        case None    => firstByVar(v) = i
      }
    val groups = positive.indices.groupBy(find).values.toSeq.sortBy(_.head)
    if (groups.size <= 1) return (Nil, positive)
    val dfs  = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val kept = scala.collection.mutable.ArrayBuffer[Atom]()
    for ((g, gi) <- groups.zipWithIndex) {
      val atoms   = g.map(positive)
      val touched = atoms.flatMap(_.vars.map(_.name)).distinct.filter(anchors)
      if (atoms.size >= 2 && touched.size <= 1) touched match {
        case Seq(v) =>
          dfs += compile(triples, atoms, stats, Some(Set(v)))
            .select(col(v)).distinct()
        case _ => // cross-scope satisfiability gate (KB.java:3423-3453 class)
          val innerKeep = atoms.flatMap(_.vars.map(_.name)).headOption
            .map(Set(_)).getOrElse(Set.empty[String])
          dfs += compile(triples, atoms, stats, Some(innerKeep))
            .limit(1).select(lit(true).as(s"${ExistGateCol}_cc$gi"))
      } else kept ++= atoms
    }
    (dfs.toSeq, kept.toSeq)
  }

  /** Broadcast-hint ceiling, in estimated rows (~10-20 MB of triple-ish
    * strings — the standard broadcast envelope). */
  private[graft] val BroadcastMaxRows: Double = 250000.0

  /** A join is "high fan-out" when its estimated output is ≥ this factor
    * above both inputs; the stream side then gets repartitioned (iff
    * small — see [[FanoutStreamMaxRows]]). */
  private val FanoutFactor = 8.0

  /** Only repartition a high-fan-out stream side estimated at or below
    * this many rows: the narrow shuffle is then negligible, and small
    * inputs are exactly the ones with too few splits to parallelize the
    * fan-out. A large stream side already has the splits. */
  private val FanoutStreamMaxRows = 1e7

  private def shufflePartitions(df: DataFrame): Int =
    scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .filter(_ > 0)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)

  /** Marker column of a fully-ground meta atom (no variables): a 0/1-row
    * existence gate cross-joined into the query. */
  private val MetaGateCol = "__meta_gate"

  /**
   * Lower one meta-relation atom to its derived binding table — the
   * Spark analog of the reference's special-relation branches inside
   * resultsOneVariable/resultsTwoVariables (KB.java:928-1063,1246-1286):
   *
   *  - `exists(r, X)` ⇔ ∃y r(X, y) — distinct (pred, subj) pairs;
   *    `existsInv` uses (pred, obj);
   *  - `~exists(r, X)` — complement over the reference's universes
   *    (all relations / all entities in the queried position,
   *    KB.java:970-993);
   *  - `hasNumberOfValues{Equals,GreaterThan,SmallerThan}[Inv]<k>(X, r)`
   *    — per-entity distinct-value counts of relation r compared to k,
   *    with the reference's k=0 edge cases (KB.java:1000-1055).
   *
   * The result has one column per variable of the atom (distinct), or a
   * [[MetaGateCol]] single-row gate when the atom is fully ground.
   */
  private[graft] def metaDF(triples: DataFrame, a: Atom): DataFrame = a.p match {
    case Const(Atom.TransitiveType) =>
      projectMeta(transitiveTypePairs(triples),
        Seq(a.s -> "__ent", a.o -> "__cls"))

    case Const(p) if Atom.ExistsFamily.contains(p) =>
      val inverse = p == Atom.ExistsInv || p == Atom.NotExistsInv
      val negated = p == Atom.NotExists || p == Atom.NotExistsInv
      val entCol  = if (inverse) "obj" else "subj"
      val pairs = triples
        .select(col("pred").as("__rel"), col(entCol).as("__ent")).distinct()
      val base =
        if (!negated) pairs
        else (a.s, a.o) match {
          case (Const(r), _) => // fixed relation: entity universe minus r's
            triples.select(col(entCol).as("__ent")).distinct()
              .join(pairs.filter(col("__rel") === r), Seq("__ent"), "left_anti")
              .withColumn("__rel", lit(r))
          case (_, Const(e)) => // fixed entity: relation universe minus e's
            triples.select(col("pred").as("__rel")).distinct()
              .join(pairs.filter(col("__ent") === e), Seq("__rel"), "left_anti")
              .withColumn("__ent", lit(e))
          case _ => // both variable: relations × entities minus pairs
            triples.select(col("pred").as("__rel")).distinct()
              .crossJoin(triples.select(col(entCol).as("__ent")).distinct())
              .join(pairs, Seq("__rel", "__ent"), "left_anti")
        }
      projectMeta(base, Seq(a.s -> "__rel", a.o -> "__ent"))

    case Const(p) =>
      val cm = Atom.cardinalityMeta(p).getOrElse(
        throw new IllegalArgumentException(s"not a meta-relation: $p"))
      val rel = a.o match {
        case Const(r) => r
        case _ => throw new UnsupportedOperationException( // KB.java:996-999
          s"The relation $p does not support variables in the object position")
      }
      val (keyCol, valCol) = if (cm.inverse) ("obj", "subj") else ("subj", "obj")
      val counts = triples.filter(col("pred") === rel)
        .groupBy(col(keyCol).as("__ent"))
        .agg(countDistinct(col(valCol)).as("__n"))
      def universe = triples.select(col(keyCol).as("__ent")).distinct()
      val base = cm.op match {
        case Atom.CardEquals if cm.n == 0 => // entities WITHOUT the relation
          universe.join(counts, Seq("__ent"), "left_anti")
        case Atom.CardEquals      => counts.filter(col("__n") === cm.n)
        case Atom.CardGreaterThan => counts.filter(col("__n") > cm.n)
        case Atom.CardSmallerThan => // count 0 entities included (KB.java:1036-1054)
          universe.join(counts, Seq("__ent"), "left")
            .filter(coalesce(col("__n"), lit(0L)) < cm.n)
        case other => throw new IllegalArgumentException(other)
      }
      projectMeta(base, Seq(a.s -> "__ent"))
  }

  /**
   * Entailed (entity, class) table backing inline `transitiveType`
   * atoms: every (e, C) with C a DIRECT `rdf:type` class of e or any
   * transitive `rdfs:subClassOf` ancestor of one — the reference's
   * getAllTypesForEntity image (Schema.java:518-525) and exactly the
   * pos1=0 two-variable table of KB.java:1211-1216.
   *
   * DIVERGENCE NOTE (deliberate): the reference's three transitiveType
   * branches disagree with each other — `transitiveType(?x, C)` with C
   * constant enumerates entities of STRICT subclasses only
   * (KB.java:935, getAllSubTypes excludes C itself, Schema.java:665-691)
   * while the both-variable table (KB.java:1211-1216) and the
   * materialized combinator (Schema.java:341-350) include direct
   * instances of C. A declarative engine needs ONE semantics for the
   * atom regardless of which terms are bound, so this table is it:
   * direct instances included, matching standard RDFS entailment. Schema
   * relation names are the engine-wide defaults
   * [[Atom.TypeRelation]]/[[Atom.SubClassRelation]] carried inline in the
   * KB (as in the reference's schema-enabled KBs).
   *
   * The subclass closure's driver loop runs ONCE per KB DataFrame (the
   * pair table is memoized per analyzed plan, weakly — dropped with the
   * DataFrame); the pair table itself stays LAZY, so per-query it is one
   * more derived binding table, not a materialization of
   * |entities| × |types| rows.
   */
  private val typePairsCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]())

  private def transitiveTypePairs(triples: DataFrame): DataFrame =
    typePairsCache.computeIfAbsent(triples.queryExecution.analyzed, _ => {
      val types = triples.filter(col("pred") === Atom.TypeRelation)
        .select(col("subj").as("__ent"), col("obj").as("__cls"))
      val edges = triples.filter(col("pred") === Atom.SubClassRelation)
        .select(col("subj"), col("obj"))
      val closure = Taxonomy.transitiveClosure(edges) // (child, parent)
      val up = types.join(closure.withColumnRenamed("child", "__cls"), "__cls")
        .select(col("__ent"), col("parent").as("__cls"))
      types.union(up).distinct()
    })

  /** Bind a derived table's internal columns to the atom's terms:
    * constants filter, variables rename, a variable repeated across
    * positions becomes an equality; no variables ⇒ 1-row gate. */
  private def projectMeta(df: DataFrame, binds: Seq[(Term, String)]): DataFrame = {
    var t = df
    binds.foreach {
      case (Const(v), c) => t = t.filter(col(c) === lit(v))
      case _             =>
    }
    val varBinds = binds.collect { case (v: Var, c) => (v, c) }
    varBinds.groupBy(_._1).values.filter(_.size > 1).foreach { g =>
      g.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => t = t.filter(col(c1) === col(c2))
        case _           =>
      }
    }
    val proj = varBinds.map(_._1).distinct.map { v =>
      col(varBinds.find(_._1 == v).get._2).as(v.name)
    }
    if (proj.isEmpty) t.limit(1).select(lit(true).as(MetaGateCol))
    else t.select(proj: _*).distinct()
  }

  /** Distinct bindings of `vs` — reference selectDistinct (KB.java:1876-2366). */
  def selectDistinct(triples: DataFrame, vs: Seq[Var], atoms: Seq[Atom]): DataFrame =
    selectDistinct(triples, vs, atoms, None)

  /** As [[selectDistinct]] with KG statistics driving the join order and
    * the physical hints (broadcast / fan-out repartition) of [[bindings]].
    * Same result set, better plan. */
  def selectDistinct(triples: DataFrame, vs: Seq[Var], atoms: Seq[Atom],
      stats: Option[KGStats]): DataFrame =
    // the trailing distinct makes multiplicities irrelevant — the
    // existential-dedup path is always safe here
    distinctableBindings(triples, atoms, vs.map(_.name).toSet, stats)
      .select(vs.map(v => col(v.name)): _*).distinct()

  /** #distinct bindings of `vs` — reference countDistinct / countDistinctPairs
    * (KB.java:1860-1862,3064-3105). Exact, per BASELINE.md (no approx). */
  def countDistinctBindings(triples: DataFrame, vs: Seq[Var], atoms: Seq[Atom],
      stats: Option[KGStats] = None): Long = {
    val df = distinctableBindings(triples,
      dropRedundantDupAtoms(atoms, vs.map(_.name).toSet),
      vs.map(_.name).toSet, stats)
    df.agg(countDistinctOf(vs).as("n")).collect()(0).getLong(0)
  }

  /** `countDistinct` over the binding columns of `vs`: the column itself
    * for one variable, their struct for several. */
  private[graft] def countDistinctOf(vs: Seq[Var]): Column =
    if (vs.size == 1) countDistinct(col(vs.head.name))
    else countDistinct(struct(vs.map(v => col(v.name)): _*))

  /** The binding of `vs` as one positional `__key` column: the column itself
    * for one variable, a struct of fields `k0, k1, …` for several. The
    * field names are positional, so the keys of plans over different
    * variables union; binding columns are projections of triple values
    * (never null), so `countDistinct(__key)` equals [[countDistinctOf]]. */
  private[graft] def keyOf(vs: Seq[Var]): Column =
    if (vs.size == 1) col(vs.head.name).as("__key")
    else struct(vs.zipWithIndex.map { case (v, i) => col(v.name).as(s"k$i") }: _*)
      .as("__key")

  /**
   * rewriteProjectionQuery parity (DefaultMiningAssistant.java:538-586,
   * driven by AbstractKB.identifyHardQueryTypeI:292-317): in a type-I
   * hard shape `r(a, c) ∧ r(b, c)` — same relation, shared variable at
   * one position, different variables at the other — the atom whose
   * differing variable occurs nowhere else in the query and is not
   * projected is implied by its twin (`∃a r(a,c)` follows from `r(b,c)`
   * at any bound `c`), so it never constrains a distinct projection.
   * Dropping it before counting removes one join without changing any
   * count. Applied to fixpoint; the reference's single-pair rewrite is a
   * special case.
   */
  private[graft] def dropRedundantDupAtoms(
      atoms: Seq[Atom], projected: Set[String]): Seq[Atom] = {
    var kept    = atoms.toList
    var changed = true
    while (changed) {
      changed = false
      val idx = kept.zipWithIndex
      val victim = (for {
        (a, i) <- idx if !a.isPseudo && !a.isMeta
        (b, j) <- idx if j != i && !b.isPseudo && !b.isMeta
        if a.p.isInstanceOf[Const] && a.p == b.p
        if Seq(a.s, a.o, b.s, b.o).forall(_.isInstanceOf[Var])
        dv <- (if (a.s == b.s && a.o != b.o) a.o match { case v: Var => Some(v); case _ => None }
               else if (a.o == b.o && a.s != b.s) a.s match { case v: Var => Some(v); case _ => None }
               else None)
        if !projected.contains(dv.name)
        if !idx.exists { case (c, k) => k != i && c.vars.contains(dv) }
      } yield i).headOption
      victim.foreach { i => kept = kept.patch(i, Nil, 1); changed = true }
    }
    kept
  }

  /** One atom → projection of the triples table onto its variables. */
  private def atomDF(triples: DataFrame, a: Atom): DataFrame = {
    var t = triples
    def bind(term: Term, c: String): Option[(String, String)] = term match {
      case Const(v) => t = t.filter(col(c) === lit(v)); None
      case Var(n)   => Some(c -> n)
    }
    val binds = Seq(bind(a.s, "subj"), bind(a.p, "pred"), bind(a.o, "obj")).flatten
    // repeated variable inside the atom → intra-row equality filter
    binds.groupBy(_._2).values.filter(_.size > 1).foreach { g =>
      g.sliding(2).foreach { case Seq((c1, _), (c2, _)) => t = t.filter(col(c1) === col(c2)) }
    }
    val proj = binds.map(_._2).distinct.map { v =>
      col(binds.find(_._2 == v).get._1).as(v)
    }
    t.select(proj: _*)
  }

  private def pseudoFilter(df: DataFrame, a: Atom): Column = {
    def c(t: Term): Column = t match { case Var(n) => df(n); case Const(v) => lit(v) }
    a.p match {
      case Const(Atom.DifferentFrom) => c(a.s) =!= c(a.o)
      case Const(Atom.Equals)        => c(a.s) === c(a.o)
      case other => throw new IllegalArgumentException(s"not a pseudo-atom: $other")
    }
  }

  /**
   * Greedy System-R-style atom ordering: start from the atom with the
   * smallest estimated (constant-filtered) cardinality, then repeatedly
   * append the atom minimizing the estimated join output, preferring
   * connected atoms. Join selectivity per already-bound variable position
   * is 1/distinct-values-at-that-position (independence assumed); a
   * variable-predicate atom (the miner's candidate-relation template)
   * uses whole-KB totals. Matters because Spark's CBO join reorder is
   * off by default and the left-deep fold in [[bindings]] otherwise
   * executes atoms in syntactic order — for counting queries like
   * `head(x,y) ∧ body(z,y) ∧ cand(z,x)` the syntactic order explodes
   * through the weakly-selective body join before the template join
   * shrinks it again.
   */
  private[graft] def cardinalityOrder(atoms: Seq[Atom], st: KGStats): Seq[Atom] =
    cardinalityOrder(atoms, new Estimator(st))

  /** Shared cardinality estimation over KG statistics, used both for the
    * greedy atom ordering and for the physical join hints in [[bindings]]
    * (estimates only ever shape the plan, never the result). */
  private[graft] final class Estimator(st: KGStats) {
    private val totalSize = math.max(1L, st.totalFacts).toDouble
    private val totalDs   = math.max(1L, st.relations.values.map(_.distinctSubj).sum).toDouble
    private val totalDo   = math.max(1L, st.relations.values.map(_.distinctObj).sum).toDouble

    // (size, distinctSubj, distinctObj) with constants folded in; a
    // relation absent from the stats has zero facts → (1,1,1)
    private def relStats(a: Atom): (Double, Double, Double) = a.p match {
      case Const(p) => st.relations.get(p) match {
        case Some(r) => (math.max(1.0, r.size.toDouble),
          math.max(1.0, r.distinctSubj.toDouble), math.max(1.0, r.distinctObj.toDouble))
        case None => (1.0, 1.0, 1.0)
      }
      case _ => (totalSize, totalDs, totalDo)
    }

    def baseEst(a: Atom): Double = {
      val (s, ds, dob) = relStats(a)
      var e = s
      if (a.s.isInstanceOf[Const]) e /= ds
      if (a.o.isInstanceOf[Const]) e /= dob
      math.max(e, 1.0)
    }

    /** Estimated output of joining a running intermediate of `est` rows
      * with atom `a` of `rightEst` rows, given the already-bound variable
      * names: selectivity per bound position is
      * 1/distinct-values-at-that-position (independence assumed). The
      * atom side's estimate is supplied because the existentially-deduped
      * form of an atom is (often much) smaller than [[baseEst]], and the
      * per-bound-position selectivities still hold for the deduped table. */
    def joinedEst(est: Double, a: Atom, bound: collection.Set[String],
        rightEst: Double): Double = {
      val (_, ds, dob) = relStats(a)
      var e = est * rightEst
      a.s match { case v: Var if bound(v.name) => e /= ds;  case _ => }
      a.o match { case v: Var if bound(v.name) => e /= dob; case _ => }
      math.max(e, 1.0)
    }

    /** Cardinality of atom `a` existentially deduped onto `kept` variable
      * names: the product collapses to the distinct count at the kept
      * position(s) — for a variable predicate the per-relation stats
      * already sum across relations (distinct (pred, subj) pairs =
      * Σ_r distinctSubj(r)). Capped by the undeduped estimate. */
    def dedupEst(a: Atom, kept: Set[String]): Double = {
      val (s, ds, dob) = relStats(a)
      def k(t: Term) = t match { case v: Var => kept(v.name); case _ => false }
      val e0 = (k(a.s), k(a.o)) match {
        case (true, true)   => s
        case (true, false)  => ds
        case (false, true)  => dob
        case (false, false) => if (k(a.p)) st.relations.size.toDouble else 1.0
      }
      var e = e0
      if (a.s.isInstanceOf[Const]) e /= ds
      if (a.o.isInstanceOf[Const]) e /= dob
      math.max(math.min(e, baseEst(a)), 1.0)
    }
  }

  private[graft] def cardinalityOrder(atoms: Seq[Atom], e: Estimator): Seq[Atom] =
    cardinalityOrder(atoms, e, e.baseEst)

  /** As above with per-atom base estimates supplied (the existential-dedup
    * path passes the deduped sizes — ordering should see the tables the
    * plan will actually join). */
  private def cardinalityOrder(atoms: Seq[Atom], e: Estimator,
      baseEstOf: Atom => Double): Seq[Atom] = {
    if (atoms.size <= 2) return connectivityOrder(atoms)
    val pending = scala.collection.mutable.ArrayBuffer(atoms: _*)
    val out     = scala.collection.mutable.ArrayBuffer[Atom]()
    val bound   = scala.collection.mutable.Set[String]()
    def take(a: Atom): Unit = {
      pending -= a; out += a; a.vars.foreach(v => bound += v.name)
    }
    def jEst(est: Double, a: Atom) = e.joinedEst(est, a, bound, baseEstOf(a))
    take(pending.minBy(baseEstOf))
    var est = baseEstOf(out.head)
    while (pending.nonEmpty) {
      val connected = pending.filter(_.vars.exists(v => bound(v.name)))
      val pool      = if (connected.nonEmpty) connected.toSeq else pending.toSeq
      val pick      = pool.minBy(a => jEst(est, a))
      est = jEst(est, pick)
      take(pick)
    }
    out.toSeq
  }

  /** Greedy reorder so each atom shares a variable with the prefix when
    * possible — prevents gratuitous cross joins; real join-order choice is
    * Catalyst's (SURVEY.md §4). */
  private def connectivityOrder(atoms: Seq[Atom]): Seq[Atom] = {
    val pending = scala.collection.mutable.ArrayBuffer(atoms: _*)
    val out     = scala.collection.mutable.ArrayBuffer[Atom]()
    val seen    = scala.collection.mutable.Set[String]()
    while (pending.nonEmpty) {
      val i = pending.indexWhere(_.vars.exists(v => seen(v.name))) match {
        case -1 => 0
        case k  => k
      }
      val a = pending.remove(i)
      out += a
      a.vars.foreach(v => seen += v.name)
    }
    out.toSeq
  }
}
