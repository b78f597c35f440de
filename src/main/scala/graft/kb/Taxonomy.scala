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
 *    reachable depth per iteration, so `ceil(log2(depth))` shuffles) —
 *    the subclass side of the `transitiveType` meta-atom in
 *    [[QueryBuilder]];
 *  - relation domain/range signatures, for the `signatured` mining bias.
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
    // ONE driver job for all three schema relations; the collected table
    // is vocabulary-sized.
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
}
