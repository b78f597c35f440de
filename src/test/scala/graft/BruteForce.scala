package graft

import graft.kb._
import graft.mine._

/**
 * Shared brute-force reference implementations for differential tests:
 * an in-memory conjunctive-query evaluator, the AMIE metric formulas
 * over it, and — the round-5 addition — a complete independent BFS
 * miner replicating the documented output policy (thresholds, skyline,
 * perfect-rule pruning, O_D/O_C reachability) over that evaluator.
 *
 * Everything here is deliberately naive: set comprehensions over
 * `Set[(s, p, o)]`, no indexes, no Spark. Agreement with the engine on
 * random inputs is evidence both implementations got the semantics
 * right — they share no evaluation machinery.
 */
object BruteForce {

  /** All assignments (var name → value) satisfying the conjunction. */
  def bindings(
      kb: Set[(String, String, String)], atoms: Seq[Atom]): Set[Map[String, String]] = {
    val (pseudo, positive) = atoms.partition(_.isPseudo)
    val init: Set[Map[String, String]] = Set(Map.empty)
    val afterPositive = positive.foldLeft(init) { (acc, a) =>
      acc.flatMap { env =>
        kb.flatMap { case (s, p, o) =>
          def unify(t: Term, v: String, e: Map[String, String]): Option[Map[String, String]] =
            t match {
              case Const(c) => if (c == v) Some(e) else None
              case Var(n)   => e.get(n) match {
                case Some(x) => if (x == v) Some(e) else None
                case None    => Some(e + (n -> v))
              }
            }
          unify(a.s, s, env).flatMap(unify(a.p, p, _)).flatMap(unify(a.o, o, _))
        }
      }
    }
    afterPositive.filter { env =>
      pseudo.forall { a =>
        def v(t: Term): String = t match { case Const(c) => c; case Var(n) => env(n) }
        a.p match {
          case Const(Atom.DifferentFrom) => v(a.s) != v(a.o)
          case Const(Atom.Equals)        => v(a.s) == v(a.o)
          case _                         => true
        }
      }
    }
  }

  def countDistinct(
      kb: Set[(String, String, String)], vs: Seq[Var], atoms: Seq[Atom]): Long =
    bindings(kb, atoms).map(env => vs.map(v => env(v.name))).size.toLong

  /** (support, bodySize, pcaBodySize, headSize) mirroring Metrics'
    * documented semantics, incl. the functional-variable direction. */
  def score(kb: Set[(String, String, String)], r: Rule): (Long, Long, Long, Long) = {
    def funIsSubj(p: String): Boolean = {
      val facts = kb.filter(_._2 == p)
      if (facts.isEmpty) true
      else {
        val f  = facts.map(_._1).size.toDouble / facts.size
        val iF = facts.map(_._3).size.toDouble / facts.size
        f >= iF
      }
    }
    val hv = r.headVars
    val support = countDistinct(kb, hv, r.atoms)
    val body    = countDistinct(kb, hv, r.body)
    val fresh   = Var("pcaFresh")
    val pcaHead = r.head.p match {
      case Const(p) if funIsSubj(p) => r.head.copy(o = fresh)
      case Const(_)                 => r.head.copy(s = fresh)
      case _                        => r.head.copy(o = fresh)
    }
    val pca = countDistinct(kb, hv, r.body :+ pcaHead)
    val headSize = r.head match {
      case Atom(_: Var, Const(p), _: Var) => kb.count(_._2 == p).toLong
      case _                              => countDistinct(kb, hv, Seq(r.head))
    }
    (support, body, pca, headSize)
  }

  /** One mined rule as the full-set differential compares it. */
  final case class MinedRule(canonical: String, support: Long,
      bodySize: Long, pcaBodySize: Long, pcaConfidence: Double)

  /**
   * Independent BFS reference miner — the complete output policy of
   * [[graft.mine.Miner]] for the default bias with constants off,
   * re-derived from the cited AMIE sources over the brute evaluator:
   *
   *  - seeds `⇒ r(x,y)` for relations with headSize ≥ threshold
   *    (DefaultMiningAssistant.java:81-88);
   *  - per-head-relation threshold = max(minSupport, ⌈minHC·headSize⌉)
   *    (AMIE.java:457-467, PruningMetric.Both);
   *  - O_D dangling templates (any rule var × either position × fresh
   *    var, only when the child can still close, AMIE.java:421-425) and
   *    O_C closing templates (any ordered var pair; at the last level
   *    the new atom must close every open var, DMA:127-137);
   *  - child acceptance: candidate support ≥ threshold, no duplicate
   *    atom, ≤ maxRelOcc occurrences per relation (DMA:212-214);
   *  - output: closed ∧ thresholds ∧ pcaConfidence strictly above every
   *    OUTPUT ancestor on the refinement path (skyline,
   *    MiningAssistant.java:1238-1266) — duplicate children within a
   *    level merge on the MAX floor;
   *  - perfect-rule pruning: pcaConfidence == 1.0 ⇒ not refined.
   */
  def mine(kb: Set[(String, String, String)], minSupport: Long,
      minHeadCoverage: Double, minPcaConfidence: Double,
      minStdConfidence: Double = 0.0, maxDepth: Int = 3,
      maxRelOcc: Int = 2): Set[MinedRule] = {
    val rels = kb.map(_._2).toSeq.sorted
    def headSize(p: String): Long = kb.count(_._2 == p).toLong
    def thr(p: String): Long =
      math.max(minSupport, math.ceil(minHeadCoverage * headSize(p)).toLong)
    def headRel(r: Rule): String =
      r.head.p match { case Const(p) => p; case _ => sys.error("var head rel") }

    final case class N(rule: Rule, floor: Double)
    val x = Var("x"); val y = Var("y")
    val seen = scala.collection.mutable.Set[String]()
    val out  = scala.collection.mutable.Map[String, MinedRule]()
    var level: Seq[N] = rels.filter(p => headSize(p) >= thr(p))
      .map(p => N(Rule(Atom(x, Const(p), y), Nil), -1.0))
    level.foreach(n => seen += n.rule.canonical)

    while (level.nonEmpty) {
      val outputConf = scala.collection.mutable.Map[String, Double]()
      val scoredPca  = scala.collection.mutable.Map[String, Double]()
      for (n <- level if n.rule.isClosed) {
        val (s, b, p, hs) = score(kb, n.rule)
        val hc  = s.toDouble / hs
        val std = if (b == 0) 0.0 else s.toDouble / b
        val pca = if (p == 0) 0.0 else s.toDouble / p
        scoredPca(n.rule.canonical) = pca
        if (s >= thr(headRel(n.rule)) && hc >= minHeadCoverage &&
            std >= minStdConfidence && pca >= minPcaConfidence &&
            pca > n.floor) {
          out(n.rule.canonical) = MinedRule(n.rule.canonical, s, b, p, pca)
          outputConf(n.rule.canonical) = pca
        }
      }
      def refinable(n: N): Boolean =
        scoredPca.get(n.rule.canonical).forall(_ < 1.0)
      val children = scala.collection.mutable.ArrayBuffer[N]()
      for (n <- level if n.rule.length < maxDepth && refinable(n)) {
        val r     = n.rule
        val used  = r.allVars.map(_.name).toSet
        val fresh = Var(Iterator.from(0).map(k => s"z$k").find(!used(_)).get)
        val open  = r.openVars.map(_.name).toSet
        val lastLevel = r.length + 1 == maxDepth
        val floor = math.max(n.floor, outputConf.getOrElse(r.canonical, -1.0))
        val templates = scala.collection.mutable.ArrayBuffer[(Term, Term)]()
        if (!lastLevel) for (v <- r.allVars) {
          templates += ((v, fresh)); templates += ((fresh, v))
        }
        for { v1 <- r.allVars; v2 <- r.allVars if v1 != v2
              if !lastLevel || (open -- Set(v1.name, v2.name)).isEmpty }
          templates += ((v1, v2))
        for ((ts, to) <- templates; rel <- rels) {
          val newAtom = Atom(ts, Const(rel), to)
          val child   = Rule(r.head, r.body :+ newAtom)
          if (!r.atoms.contains(newAtom) &&
              child.relationOccurrences(rel) <= maxRelOcc) {
            val supp = countDistinct(kb, r.headVars, child.atoms)
            if (supp >= thr(headRel(r))) children += N(child, floor)
          }
        }
      }
      level = children.groupBy(_.rule.canonical).toSeq.sortBy(_._1)
        .map { case (_, dup) => dup.maxBy(_.floor) }
        .filter(c => seen.add(c.rule.canonical))
    }
    out.values.toSet
  }

  /** Deterministic random KB over 8 entities × 3 relations. */
  def randomKB(rng: scala.util.Random, nFacts: Int): Set[(String, String, String)] = {
    val ents = (0 until 8).map(i => s"e$i")
    val rels = (0 until 3).map(i => s"r$i")
    (0 until nFacts).map { _ =>
      (ents(rng.nextInt(ents.size)), rels(rng.nextInt(rels.size)), ents(rng.nextInt(ents.size)))
    }.toSet
  }

  /** Filtered link-prediction ranks by per-test-row enumeration, in test
    * order: rank = 1 + #{non-known predictions on the target's ranking key
    * with a higher score, or an equal score and a smaller entity}; None
    * when the target itself was never predicted. Scores are maxplus
    * vectors (a `max` score is a one-element vector) compared
    * lexicographically, entities in Spark's UTF-8 byte order. */
  def filteredRanks(preds: Map[(String, String, String), Seq[Double]],
      test: Seq[(String, String, String)], known: Set[(String, String, String)],
      tail: Boolean): Seq[Option[Long]] = {
    def key(f: (String, String, String))    = if (tail) (f._1, f._2) else (f._2, f._3)
    def entity(f: (String, String, String)) = if (tail) f._3 else f._1
    def cmp(a: Seq[Double], b: Seq[Double]): Int =
      a.zip(b).map { case (x, y) => java.lang.Double.compare(x, y) }
        .find(_ != 0).getOrElse(Integer.compare(a.size, b.size))
    test.map { t =>
      preds.get(t).map { ts =>
        1L + preds.count { case (c, cs) =>
          !known(c) && key(c) == key(t) && {
            val o = cmp(cs, ts)
            o > 0 || (o == 0 && graft.plans.DriverRegime.utf8Lt(entity(c), entity(t)))
          }
        }
      }
    }
  }
}
