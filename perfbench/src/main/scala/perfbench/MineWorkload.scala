package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.kb.{Atom, Const, KGStats, Term, Var}
import graft.mine.{Metrics, Miner, MinerConfig, RefMiner, Rule, RuleApply, ScoredRule}
import graft.pipeline.{Corpus, Pipeline}

/** `mine`: a depth-3 AMIE mine of a small emitted graph (the write), then
  * link prediction with the mined closed rules on a seeded hold-out (the
  * read). Setup builds the graph and computes the expected rules with the
  * in-memory RefMiner and the expected ranking on the driver.
  *
  * With `emitted = false` the graph is the corpus's oracle triples instead
  * of the pipeline's output: the warm-up uses that to reach the mining code
  * without paying the pipeline's first-run cost twice (the first setup pays
  * it once). */
final class MineWorkload(spark: SparkSession, root: String, nDocs: Long, nEnt: Int,
    seed: Long, cfg: MinerConfig, emitted: Boolean = true) extends Workload {
  import spark.implicits._

  private var pipeline: Pipeline = _
  private var graph: () => DataFrame = _
  private var expectedRules: Map[String, RefMiner.RefScored] = _
  private var expectedEval: Seq[EvalRow] = _
  private var train, test, known: DataFrame = _

  def setup(rep: Int): Unit = {
    close()
    val docs = Corpus.generate(spark, nDocs, nEnt, seed)
    if (emitted) {
      val p = new Pipeline(spark, s"$root/mine-graph-$rep", nBuckets = 4)
      p.run(docs, Some(Common.fingerprint("mine", nDocs, nEnt, seed)))
      pipeline = p
      graph = () => p.triples()
    } else {
      val g = Common.oracle(spark, docs).localCheckpoint()
      graph = () => g
    }
    val facts = graph().distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    val ref = RefMiner.mine(facts, cfg)
    expectedRules = ref.map(r => r.rule.canonical -> r).toMap
    val rng = new scala.util.Random(seed)
    val (testFacts, trainFacts) = facts.partition(f =>
      MineWorkload.HeldRelations(f._2) && rng.nextDouble() < MineWorkload.HoldOut)
    train = trainFacts.toDF("subj", "pred", "obj")
    test  = testFacts.toDF("subj", "pred", "obj")
    known = facts.toDF("subj", "pred", "obj")
    expectedEval = LinkPredOracle.evaluate(trainFacts, testFacts, facts.toSet,
      ref.filter(_.rule.isClosed).map(r => (r.rule, r.pcaConfidence)))
  }

  def op(i: Int, trace: Trace): OpResult = {
    val graph  = this.graph()
    val traced = !(trace eq NoTrace)
    // traced ops force the decode and the statistics pass on their own,
    // so those layers get spans; the miner then repeats both inside init
    val stats =
      if (!traced) None
      else {
        trace.span("kb.decode")(graph.write.format("noop").mode("overwrite").save())
        Some(trace.span("kb.stats")(KGStats.compute(graph.distinct())))
      }
    val (rules, writeS) = Common.timed {
      val miner = trace.span("mine.init")(new Miner(graph, cfg))
      trace.span("mine.mine")(miner.mine())
    }
    val closed = rules.filter(_.rule.isClosed).map(s => (s.rule, s.pcaConfidence))
    val ((eval, nPreds), readS) = Common.timed {
      val preds = trace.span("mine.apply")(RuleApply.predictions(train, closed).localCheckpoint())
      val eval  = trace.span("mine.rank")(RuleApply.evaluate(preds, test, known).collect())
        .map(EvalRow.apply).toSeq.sortBy(_.direction)
      val n = if (traced) preds.count() else 0L
      preds.unpersist()
      (eval, n)
    }
    val rescored = stats.map { st =>
      trace.span("mine.rescore") {
        val kb = graph.distinct().cache()
        try new Metrics(kb, st).scoreAll(rules.map(_.rule)) finally kb.unpersist()
      }
    }
    val problems = MineWorkload.compare(rules, expectedRules) ++
      rescored.toSeq.flatMap(r => MineWorkload.rescoreMismatch(rules, r)) ++
      (if (EvalRow.same(eval, expectedEval)) Nil
       else Seq(s"link prediction $eval differs from the expected $expectedEval"))
    OpResult(writeS, Seq(readS), problems.isEmpty, problems.take(3).mkString("; "),
      Map("rules" -> rules.size.toDouble, "predictions" -> nPreds.toDouble))
  }

  override def close(): Unit = {
    if (pipeline != null) Common.deleteRecursively(pipeline.workDir)
    pipeline = null
  }
}

object MineWorkload {
  val HoldOut = 0.1
  val HeldRelations: Set[String] = Set("livesIn", "worksAt", "isLocatedIn")

  /** The planted rule worksAt(x,t) ∧ isLocatedIn(t,c) ⇒ livesIn(x,c). */
  val Planted: Rule = Rule(Atom(Var("x"), Const("livesIn"), Var("c")),
    List(Atom(Var("x"), Const("worksAt"), Var("t")),
      Atom(Var("t"), Const("isLocatedIn"), Var("c"))))

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9

  /** Differences between the mined rules and the reference miner's, plus
    * the planted rule's presence at PCA confidence 1.0. */
  def compare(mined: Seq[ScoredRule], ref: Map[String, RefMiner.RefScored]): Seq[String] = {
    val got = mined.map(s => s.rule.canonical -> s).toMap
    val setDiff =
      if (got.keySet == ref.keySet) Nil
      else Seq(s"rule set differs: extra ${(got.keySet -- ref.keySet).take(3)}, " +
        s"missing ${(ref.keySet -- got.keySet).take(3)}")
    val metricDiff = got.keySet.intersect(ref.keySet).toSeq.sorted.flatMap { k =>
      val (m, r) = (got(k), ref(k))
      val same = m.support == r.support && m.bodySize == r.bodySize &&
        m.pcaBodySize == r.pcaBodySize && close(m.headCoverage, r.headCoverage) &&
        close(m.stdConfidence, r.stdConfidence) && close(m.pcaConfidence, r.pcaConfidence)
      if (same) None else Some(s"metrics of $k differ from the reference")
    }
    val planted = got.get(Planted.canonical) match {
      case Some(s) if s.pcaConfidence == 1.0 => Nil
      case Some(s) => Seq(s"planted rule at PCA ${s.pcaConfidence}")
      case None    => Seq("planted rule not mined")
    }
    setDiff ++ metricDiff ++ planted
  }

  /** Differences between mined counts and an independent re-scoring. */
  def rescoreMismatch(mined: Seq[ScoredRule], rescored: Seq[ScoredRule]): Seq[String] = {
    val r = rescored.map(s => s.rule.canonical -> s).toMap
    mined.flatMap { m =>
      r.get(m.rule.canonical) match {
        case Some(x) if x.support == m.support && x.bodySize == m.bodySize &&
            x.pcaBodySize == m.pcaBodySize => None
        case _ => Some(s"re-scored metrics of ${m.rule.canonical} differ")
      }
    }
  }
}

final case class EvalRow(direction: String, mrr: Double, hits1: Double, hits3: Double,
    hits10: Double, ranked: Long, total: Long)

object EvalRow {
  def apply(r: org.apache.spark.sql.Row): EvalRow = EvalRow(r.getString(0), r.getDouble(1),
    r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6))

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Equal counts, and equal scores up to summation-order rounding. */
  def same(a: Seq[EvalRow], b: Seq[EvalRow]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.direction == y.direction && x.ranked == y.ranked && x.total == y.total &&
        close(x.mrr, y.mrr) && close(x.hits1, y.hits1) && close(x.hits3, y.hits3) &&
        close(x.hits10, y.hits10)
    }
}

/** Link-prediction evaluation on the driver, by direct enumeration — the
  * reference the Spark RuleApply path is checked against. Same protocol:
  * max-aggregated rule confidences, filtered ranks (known facts never
  * compete), ties broken by candidate < target, unranked targets count in
  * the denominator. */
object LinkPredOracle {
  type Fact = (String, String, String)

  /** Head groundings of a closed rule's body over `facts`. */
  def groundings(facts: Seq[Fact], rule: Rule): Set[Fact] = {
    val byPred = facts.groupBy(_._2)
    def value(t: Term, env: Map[String, String]): Option[String] = t match {
      case Const(c) => Some(c)
      case Var(n)   => env.get(n)
    }
    def bind(t: Term, v: String, env: Map[String, String]): Option[Map[String, String]] =
      t match {
        case Const(c) => if (c == v) Some(env) else None
        case Var(n)   => env.get(n) match {
          case Some(x) => if (x == v) Some(env) else None
          case None    => Some(env + (n -> v))
        }
      }
    def solve(atoms: List[Atom], env: Map[String, String]): Iterator[Map[String, String]] =
      atoms match {
        case Nil => Iterator(env)
        case a :: rest if a.isPseudo =>
          (value(a.s, env), value(a.o, env)) match {
            case (Some(x), Some(y)) =>
              val holds = if (a.p == Const(Atom.DifferentFrom)) x != y else x == y
              if (holds) solve(rest, env) else Iterator.empty
            case _ => solve(rest :+ a, env)
          }
        case a :: rest =>
          val p = a.p match { case Const(c) => c; case t => sys.error(s"variable relation $t") }
          byPred.getOrElse(p, Nil).iterator.flatMap { case (s, _, o) =>
            bind(a.s, s, env).flatMap(bind(a.o, o, _)).iterator.flatMap(solve(rest, _))
          }
      }
    solve(rule.body, Map.empty).map { env =>
      def get(t: Term) = value(t, env).getOrElse(sys.error(s"unbound head term $t"))
      (get(rule.head.s), get(rule.head.p), get(rule.head.o))
    }.toSet
  }

  def evaluate(train: Seq[Fact], test: Seq[Fact], known: Set[Fact],
      rules: Seq[(Rule, Double)]): Seq[EvalRow] = {
    if (rules.isEmpty) return Nil
    val preds: Map[Fact, Double] = rules
      .flatMap { case (r, c) => groundings(train, r).toSeq.map(_ -> c) }
      .groupMapReduce(_._1)(_._2)(math.max)
    val cands = preds.filter { case (f, _) => !known(f) }
    def ranks(tail: Boolean): Seq[Option[Long]] = {
      def key(f: Fact)    = if (tail) (f._1, f._2) else (f._2, f._3)
      def entity(f: Fact) = if (tail) f._3 else f._1
      val byKey = cands.toSeq.groupBy(c => key(c._1))
      test.map { t =>
        preds.get(t).map { tc =>
          val pool = byKey.getOrElse(key(t), Nil)
          1L + pool.count(_._2 > tc) +
            pool.count(c => c._2 == tc && entity(c._1) < entity(t))
        }
      }
    }
    for ((dir, tail) <- Seq("head" -> false, "tail" -> true)) yield {
      val rs = ranks(tail)
      val n  = rs.size.toDouble
      def hits(k: Int) = rs.count(_.exists(_ <= k)) / n
      EvalRow(dir, rs.flatten.map(1.0 / _).sum / n, hits(1), hits(3), hits(10),
        rs.count(_.isDefined).toLong, rs.size.toLong)
    }
  }
}
