package graft.mine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kb.{Atom, Const, KGStats, QueryBuilder, Term, Var}

/**
 * Rule application and link-prediction evaluation — the Spark-native form
 * of the reference's downstream inference flow
 * (inference/linkprediction.py: PyClause `RankingHandler` with the
 * `maxplus` aggregation function, filtered head/tail rankings, MRR and
 * hits@k over a train/filter/test triple split).
 *
 * Applying a Horn rule `h(x,y) ⇐ B` to a KB is the body's conjunctive
 * query projected DISTINCT onto the head arguments: each distinct head
 * binding becomes one predicted triple carrying the rule's confidence.
 * Per-triple scores aggregate under `max` (noisy-max over the firing
 * rules) or `maxplus` (the full descending confidence vector, compared
 * lexicographically, so more firing rules win ties —
 * linkprediction.py:11 `aggregation_function maxplus`).
 *
 * Scale shape: one distinct-projected join tree per rule (the body
 * compiles through [[QueryBuilder.distinctableBindings]], so witness
 * variables outside the head are deduplicated BEFORE the joins — a body
 * atom used only existentially never fans the prediction set out), a
 * single union + groupBy(subj,pred,obj) shuffle to aggregate scores, and
 * one ranking window for both directions, partitioned by direction and
 * query key (subj,pred) / (pred,obj) and restricted to the tested keys —
 * never a window over global candidate lists and never a pair set of
 * targets × candidates (see [[filteredRanks]]).
 */
object RuleApply {

  /** Distinct predicted triples of one closed-head rule: the body's
    * bindings projected onto the head's arguments. Head constants project
    * as literals (instantiated-head rules); every head VARIABLE must be
    * bound by the body (PyClause applies closed rules; an unbound head
    * variable has no finite grounding). */
  def applyRule(triples: DataFrame, rule: Rule,
      stats: Option[KGStats] = None): DataFrame = {
    val bodyVars = rule.realBody.flatMap(_.vars).map(_.name).toSet
    val headVarNames = rule.headVars.map(_.name)
    require(headVarNames.forall(bodyVars),
      s"head variable(s) ${headVarNames.filterNot(bodyVars).mkString(",")} " +
        s"not bound by the body — cannot ground ${rule.amieString}")
    def proj(t: Term, as: String) = t match {
      case Var(n)   => col(n).as(as)
      case Const(v) => lit(v).as(as)
    }
    QueryBuilder
      .distinctableBindings(triples, rule.body, headVarNames.toSet, stats)
      .select(proj(rule.head.s, "subj"), proj(rule.head.p, "pred"),
        proj(rule.head.o, "obj"))
      .distinct()
  }

  /** All rules applied, one row per distinct predicted triple with its
    * maxplus score vector: (subj, pred, obj, confs array<double> sorted
    * descending). Vectors compare lexicographically — Spark's array
    * ordering — which IS the maxplus order. */
  def scoredPredictions(triples: DataFrame, rules: Seq[(Rule, Double)],
      stats: Option[KGStats] = None): DataFrame = {
    require(rules.nonEmpty, "no rules to apply")
    rules.map { case (r, c) =>
      applyRule(triples, r, stats).withColumn("conf", lit(c))
    }.reduce(_.unionByName(_))
      .groupBy("subj", "pred", "obj")
      .agg(reverse(sort_array(collect_list(col("conf")))).as("conf"))
  }

  /** max-aggregated predictions: (subj, pred, obj, conf double). The
    * SQL-oracle-friendly scoring (a double instead of a vector). */
  def predictions(triples: DataFrame, rules: Seq[(Rule, Double)],
      stats: Option[KGStats] = None): DataFrame = {
    require(rules.nonEmpty, "no rules to apply")
    rules.map { case (r, c) =>
      applyRule(triples, r, stats).withColumn("conf", lit(c))
    }.reduce(_.unionByName(_))
      .groupBy("subj", "pred", "obj").agg(max(col("conf")).as("conf"))
  }

  /** KG-completion output: predicted triples NOT already facts of the KB
    * they were applied to. */
  def newPredictions(triples: DataFrame, rules: Seq[(Rule, Double)],
      stats: Option[KGStats] = None): DataFrame =
    predictions(triples, rules, stats)
      .join(triples.select("subj", "pred", "obj"),
        Seq("subj", "pred", "obj"), "left_anti")

  /**
   * Filtered rank of each test triple. `tail = true` ranks the object
   * among predictions sharing (subj, pred); `tail = false` ranks the
   * subject among predictions sharing (pred, obj) — PyClause's
   * head/tail direction queries.
   *
   * rank = 1 + #{candidates strictly better than the target}, where
   * better = higher score, ties broken by candidate entity <
   * target entity (a deterministic stand-in for PyClause's random tie
   * policy — deterministic beats unreproducible for an oracle-checked
   * engine), and candidates that are KNOWN true triples never compete
   * (the filtered-ranking protocol; `known` is train ∪ valid ∪ test,
   * linkprediction.py:34-36). A target the rule set never predicted has
   * rank NULL. `preds`'s score column may be a double (max) or a
   * descending array (maxplus) — both compare correctly. Each test row
   * gets one output row: a duplicated test triple is ranked once per
   * copy, each copy with the rank of a single one.
   *
   * Plan shape: one window, no pair set and no join-back.
   *  - The candidate pool is restricted to the test keys first (a
   *    broadcast semi-join of the prediction scan against the test
   *    table's keys — candidates on never-tested keys cannot affect any
   *    rank), and so are the known facts it is filtered against, so the
   *    anti join never shuffles the whole KB.
   *  - Candidates and test targets union into one table tagged
   *    `is_cand` ∈ {1, 0}, ordered per ranking key by (score desc nulls
   *    last, entity asc). The running sum of `is_cand` at a target row is
   *    exactly #{strictly better} + #{tied with a smaller entity}, so
   *    rank = 1 + that sum, read off in linear rows and one shuffle.
   *    The order is total between candidates and targets: a candidate
   *    never equals a target on (key, entity) because the pool is
   *    known-free and every test target is known (and `is_cand` asc
   *    breaks that tie regardless, so a target never counts its own
   *    prediction). Target rows add 0 to the sum, so duplicated test rows
   *    cannot inflate each other.
   *
   * Scale trade: a hub key is one window partition holding all its
   * candidates (`WindowExec` spills past its in-memory threshold).
   * Partitioning by (key, score) instead would split a hub key only by
   * its number of distinct scores — at most the rule count under `max` —
   * and would need a separate strictly-better count and join-back per
   * direction.
   *
   * Output: (subj, pred, obj, rank).
   */
  def filteredRanks(preds: DataFrame, test: DataFrame, known: DataFrame,
      tail: Boolean): DataFrame =
    ranks(preds, test, known, Seq(if (tail) Tail else Head))
      .select("subj", "pred", "obj", "rank")

  /** Both-direction ranks labeled `direction` ∈ {head, tail} — the
    * evaluator's working table, ranked by the one window of
    * [[filteredRanks]] partitioned by direction as well. */
  def rankedBothDirections(preds: DataFrame, test: DataFrame,
      known: DataFrame): DataFrame =
    ranks(preds, test, known, Seq(Tail, Head))
      .select("subj", "pred", "obj", "rank", "direction")

  /** A ranking direction: the query key is (`anchor`, pred) and `entity`
    * is the position ranked among the candidates sharing it. */
  private final case class Direction(name: String, anchor: String, entity: String)
  private val Tail = Direction("tail", anchor = "subj", entity = "obj")
  private val Head = Direction("head", anchor = "obj", entity = "subj")

  /** (direction, subj, pred, obj, rank) for every test row and each of
    * `dirs` — the plan described at [[filteredRanks]]. */
  private def ranks(preds: DataFrame, test: DataFrame, known: DataFrame,
      dirs: Seq[Direction]): DataFrame = {
    val spo    = Seq("subj", "pred", "obj")
    val t      = test.select(spo.map(col): _*)
    val scores = preds.withColumnRenamed("conf", "score")
    // the target's own score, shared by every direction; NULL = never
    // predicted (rank stays NULL: it contributes 0 to MRR/hits, the
    // reference evaluator's behavior for an unranked test triple)
    val scored = t.join(scores, spo, "left")
    def tagged(df: DataFrame, d: Direction, isCand: Long) =
      df.select(lit(d.name).as("direction"), col("pred"),
        col(d.anchor).as("anchor"), col(d.entity).as("id"), col("score"),
        lit(isCand).as("is_cand"))
    val rows = dirs.flatMap { d =>
      // duplicate keys need no distinct: a semi-join ignores them
      val testKeys = broadcast(t.select(col(d.anchor), col("pred")))
      val onKeys   = (df: DataFrame) => df.join(testKeys, Seq(d.anchor, "pred"), "left_semi")
      val cands    = onKeys(scores).join(onKeys(known.select(spo.map(col): _*)), spo, "left_anti")
      Seq(tagged(cands, d, 1L), tagged(scored, d, 0L))
    }.reduce(_.unionByName(_))
    val w = Window.partitionBy("direction", "pred", "anchor")
      .orderBy(col("score").desc_nulls_last, col("id"), col("is_cand"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTail = col("direction") === Tail.name
    rows.withColumn("better", sum(col("is_cand")).over(w))
      .where(col("is_cand") === 0L)
      .select(col("direction"),
        when(isTail, col("anchor")).otherwise(col("id")).as("subj"), col("pred"),
        when(isTail, col("id")).otherwise(col("anchor")).as("obj"),
        when(col("score").isNotNull, col("better") + 1L).as("rank"))
  }

  /**
   * The linkprediction.py evaluation summary: per direction, MRR and
   * hits@1/3/10 over ALL test triples (unranked ones count in the
   * denominator and contribute zero — Ranking.compute_scores semantics),
   * plus ranked/total counts. Output: (direction, mrr, hits1, hits3,
   * hits10, ranked, total).
   */
  def evaluate(preds: DataFrame, test: DataFrame,
      known: DataFrame): DataFrame = {
    def hits(k: Int) =
      (sum(when(col("rank") <= k, 1L).otherwise(0L)) /
        count(lit(1))).as(s"hits$k")
    rankedBothDirections(preds, test, known)
      .groupBy("direction")
      .agg(
        (coalesce(sum(lit(1.0) / col("rank")), lit(0.0)) / count(lit(1)))
          .as("mrr"),
        hits(1), hits(3), hits(10),
        count(col("rank")).as("ranked"),
        count(lit(1)).as("total"))
  }
}
