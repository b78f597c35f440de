package graft.kb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The KB operator surface beyond plain conjunctive queries — Spark-native
 * re-expressions of the reference's query API (SURVEY.md §2.2–§2.6; the
 * authoritative method list is AbstractKB's 25-method query interface,
 * kb/src/main/java/amie/data/AbstractKB.java:479-655).
 *
 * Everything is a declarative DataFrame transform: aggregations shuffle
 * once on their grouping keys, negations are left-anti joins (never
 * driver-side set math), and the one windowed computation (cumulative
 * cardinality histogram) partitions by relation so the window never
 * sees more rows than one relation's histogram.
 */
object Ops {

  private def vcols(vs: Seq[Var]): Seq[Column] = vs.map(v => col(v.name))

  /** Histogram of values at one variable of a query —
    * KB.countBindings (KB.java:2562-2593). */
  def countBindings(triples: DataFrame, v: Var, atoms: Seq[Atom]): DataFrame =
    QueryBuilder.bindings(triples, atoms)
      .groupBy(col(v.name)).agg(count(lit(1)).as("cnt"))

  /** For each binding of `v`: #distinct `proj` satisfying the query —
    * KB.frequentBindingsOf (KB.java:2389-2552). */
  def frequentBindingsOf(triples: DataFrame, v: Var, proj: Var, atoms: Seq[Atom]): DataFrame =
    QueryBuilder.distinctableBindings(triples, atoms, Set(v.name, proj.name), None)
      .groupBy(col(v.name)).agg(countDistinct(col(proj.name)).as("cnt"))

  /** For each binding of `v`: #distinct instantiations of the projection
    * (head) atom joining the rest — KB.countProjectionBindings
    * (KB.java:2599-2786), the support-per-candidate primitive. */
  def countProjectionBindings(
      triples: DataFrame, projAtom: Atom, others: Seq[Atom], v: Var): DataFrame =
    QueryBuilder.distinctableBindings(triples, projAtom +: others,
        (v +: projAtom.vars).map(_.name).toSet, None)
      .groupBy(col(v.name))
      .agg(QueryBuilder.countDistinctOf(projAtom.vars.distinct).as("cnt"))

  /** Distinct `vs` bindings matching `bodyAtoms` but NOT `headAtoms` —
    * the difference family (KB.java:3346-3747), AMIE's negative-example
    * generator. Anti-join on the projected tuple. */
  def difference(
      triples: DataFrame, vs: Seq[Var],
      bodyAtoms: Seq[Atom], headAtoms: Seq[Atom]): DataFrame = {
    val a = QueryBuilder.selectDistinct(triples, vs, bodyAtoms)
    val shared = vs.filter(v => headAtoms.exists(_.vars.contains(v)))
    if (shared.isEmpty) {
      // KB.differenceNoVarsInCommon (KB.java:3423-3453): with no shared
      // variable the head is a binding-independent existence gate — every
      // body binding survives iff the head query is unsatisfiable. An
      // anti-join on the empty key set would be ill-formed.
      if (existsQuery(triples, headAtoms)) a.limit(0) else a
    } else {
      val b = QueryBuilder.distinctableBindings(triples, headAtoms,
          shared.map(_.name).toSet, None)
        .select(shared.map(v => col(v.name)): _*)
        .distinct()
      a.join(b, b.columns.toSeq, "left_anti")
    }
  }

  /** Distinct `vs` of `atoms` for which ∃ a match of `existsAtoms`
    * (shared variables join) — the `exists` meta-relation
    * (AbstractKB.java:91-133) as a left-semi join. */
  def selectWhereExists(
      triples: DataFrame, vs: Seq[Var],
      atoms: Seq[Atom], existsAtoms: Seq[Atom]): DataFrame =
    existsJoin(triples, vs, atoms, existsAtoms, "left_semi")

  /** `~exists` (negated existence) as a left-anti join. */
  def selectWhereNotExists(
      triples: DataFrame, vs: Seq[Var],
      atoms: Seq[Atom], existsAtoms: Seq[Atom]): DataFrame =
    existsJoin(triples, vs, atoms, existsAtoms, "left_anti")

  private def existsJoin(
      triples: DataFrame, vs: Seq[Var],
      atoms: Seq[Atom], existsAtoms: Seq[Atom], how: String): DataFrame = {
    // the outer query must keep every variable the subquery could join on
    // (occurrence counting is per-conjunction, not cross-scope); the
    // trailing distinct over `vs` licenses the dedup path on both sides
    val crossScope = existsAtoms.flatMap(_.vars).map(_.name).toSet
    val base  = QueryBuilder.distinctableBindings(triples, atoms,
      vs.map(_.name).toSet ++ crossScope, None)
    val inner = QueryBuilder.distinctableBindings(triples, existsAtoms,
      atoms.flatMap(_.vars).map(_.name).toSet, None)
    val keys  = base.columns.intersect(inner.columns).toSeq
    require(keys.nonEmpty, "exists subquery shares no variable with the outer query")
    base.join(inner.select(keys.map(col): _*).distinct(), keys, how)
      .select(vcols(vs): _*).distinct()
  }

  /** Boolean satisfiability of a conjunctive query — KB.existsBS1
    * (KB.java:1770-1841): ∃ an assignment, early-exit. Catalyst's
    * `limit(1)` + `isEmpty` gives the short-circuit without enumerating
    * bindings (the reference's existential-variable optimization is free
    * here: unprojected variables are never materialized). */
  def existsQuery(triples: DataFrame, atoms: Seq[Atom]): Boolean =
    !QueryBuilder.bindings(triples, atoms).limit(1).isEmpty

  /** Per-class instance counts + pairwise class-intersection counts —
    * Schema.getTypesCount / getTypesIntersectionCount
    * (Schema.java:838-896). `types` = (entity, cls) facts.
    *
    * Cost is Σ (classes-per-entity)² — fine for taxonomies (tens of
    * classes per entity), degenerate if one entity carries thousands.
    * `maxClassesPerEntity > 0` bounds that hot-key quadratic by keeping
    * only the lexicographically smallest N classes of each overflowing
    * entity (deterministic, so two runs agree); the dropped entity-class
    * rows no longer contribute pairs, which undercounts intersections
    * involving an overflowing entity's later classes — an explicit
    * recall-for-scale trade, off (exact) by default. */
  def classIntersections(types: DataFrame, maxClassesPerEntity: Int = 0): DataFrame = {
    val t0 = types.toDF("entity", "cls").distinct()
    val t =
      if (maxClassesPerEntity <= 0) t0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("entity").orderBy("cls")
        t0.withColumn("__rk", row_number().over(w))
          .where(col("__rk") <= maxClassesPerEntity).drop("__rk")
      }
    t.as("a").join(t.as("b"), col("a.entity") === col("b.entity"))
      .groupBy(col("a.cls").as("c1"), col("b.cls").as("c2"))
      .agg(count(lit(1)).as("n"))
  }

  /** Ground-fact membership — KB.contains (KB.java:1092-1159). */
  def containsFact(triples: DataFrame, subj: String, pred: String, obj: String): Boolean =
    !triples.where(col("subj") === subj && col("pred") === pred && col("obj") === obj)
      .limit(1).isEmpty

  /**
   * Per-relation cardinality histogram + right-cumulative histogram
   * (KB.java:3896-4043, maximalRightCumulativeCardinality): for each
   * (pred, n) — n = #values per key — the #keys with exactly n values and
   * with ≥ n values. `keyCol`/`valCol` choose direction (subj→obj or
   * obj→subj). The window partitions by pred: tiny per-relation frames.
   */
  def cardinalityHistogram(triples: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val perKey = triples.groupBy(col("pred"), col(keyCol))
      .agg(countDistinct(col(valCol)).as("n"))
    val hist = perKey.groupBy(col("pred"), col("n")).agg(count(lit(1)).as("keys"))
    val w = Window.partitionBy("pred").orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_keys", sum(col("keys")).over(w))
  }

  /**
   * Variance of values-per-key per relation (KB.java:729-760). Computed
   * from exact integer sums with one fixed double expression
   * `(S2 - S1²/k)/k` so any engine evaluating the same shape (e.g. the
   * DuckDB oracle) reproduces it bit-for-bit — unlike var_pop, whose
   * summation order is implementation-defined.
   */
  def varianceOfCounts(triples: DataFrame, keyCol: String, valCol: String): DataFrame =
    triples.groupBy(col("pred"), col(keyCol))
      .agg(countDistinct(col(valCol)).as("n"))
      .groupBy("pred")
      .agg(sum(col("n")).as("s1"), sum(col("n") * col("n")).as("s2"),
        count(lit(1)).as("k"))
      .select(col("pred"),
        ((col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("k"))
          / col("k")).as("variance"))

  /** Exact distinct-pair count with an early-exit bound —
    * KB.countDistinctPairsUpTo (KB.java:3111-3160). The `limit(bound+1)`
    * on the distinct set gives the same "≥ bound+1 ⇒ prune" decision
    * without a full count. */
  def countDistinctUpTo(
      triples: DataFrame, bound: Long, vs: Seq[Var], atoms: Seq[Atom]): Long = {
    // limit() takes an Int; a bound at or beyond Int.MaxValue can never be
    // exceeded by a 32-bit-partitioned distinct set cheaply — fall back to
    // the exact count instead of overflowing (bound+1 would wrap negative).
    if (bound >= Int.MaxValue - 1)
      QueryBuilder.countDistinctBindings(triples, vs, atoms)
    else
      QueryBuilder.selectDistinct(triples, vs, atoms).limit(bound.toInt + 1).count()
  }

  /**
   * Cardinality pseudo-relations
   * `hasNumberOfValues{Equals,GreaterThan,SmallerThan}[Inv]`
   * (Schema.java:130-163, evaluated in KB.java:928-1063): keys of
   * `pred` (subjects, or objects when `inverse`) whose distinct-value
   * count satisfies `op n`. Keys with zero facts never appear — same as
   * the reference, which iterates the relation index.
   */
  def entitiesByValueCount(
      triples: DataFrame, pred: String, inverse: Boolean,
      op: String, n: Long): DataFrame = {
    val (key, value) = if (inverse) ("obj", "subj") else ("subj", "obj")
    val counted = triples.where(col("pred") === pred)
      .groupBy(col(key).as("entity"))
      .agg(countDistinct(col(value)).as("cnt"))
    val f = op match {
      case "="  => counted("cnt") === n
      case ">"  => counted("cnt") > n
      case "<"  => counted("cnt") < n
      case bad  => throw new IllegalArgumentException(s"op: $bad")
    }
    counted.where(f)
  }

  /** Relations with ≥ `minSize` facts, largest first —
    * U.decreasingKeys + size threshold (kb/.../U.java:27-31). */
  def relationsBySize(triples: DataFrame, minSize: Long): DataFrame =
    triples.groupBy("pred").agg(count(lit(1)).as("size"))
      .where(col("size") >= minSize)
      .orderBy(col("size").desc, col("pred"))
}
