package graft.mine

import graft.kb.{Atom, Const, Term, Var}

/**
 * Brute-force in-memory reference miner — a second, independent
 * implementation of the AMIE BFS (amie/mining/AMIE.java:316-392 +
 * DefaultMiningAssistant operators) used purely as a differential gate
 * for [[Miner]]:
 *
 *   - every count (support, body size, PCA body size, candidate counts)
 *     is a naive backtracking enumeration over hash indexes of a
 *     collected triple set — no Spark, no existential dedup, no merged
 *     level plans, no fused scoring, no broadcast hints;
 *   - the search semantics (operators, thresholds, skyline floors,
 *     perfect-rule pruning, per-level canonical dedup) mirror the
 *     reference's description so that OUTPUT SET EQUALITY against
 *     [[Miner.mine]] checks the entire Spark compilation/counting layer
 *     — the part with all the optimization complexity.
 *
 * Scope: the Default bias without constants or exists-rewrites (the
 * configuration the benchmark's `mine` gate uses).
 * Inputs must fit on the driver — callers gate on triple count.
 */
object RefMiner {

  final case class RefScored(rule: Rule, support: Long, bodySize: Long,
      pcaBodySize: Long, headCoverage: Double, stdConfidence: Double,
      pcaConfidence: Double)

  def mine(triples: Seq[(String, String, String)], config: MinerConfig): Seq[RefScored] = {
    require(!config.enableConstants,
      "RefMiner covers the default-bias subset only")
    require(!config.enableFunctionalityHeuristic,
      "pruning estimates off: the exact search is the differential target")

    val facts = triples.distinct
    val byPred: Map[String, Array[(String, String)]] =
      facts.groupBy(_._2).map { case (p, ts) => p -> ts.map(t => (t._1, t._3)).toArray }
    val predSubj: Map[String, Map[String, Array[String]]] =
      byPred.map { case (p, pairs) =>
        p -> pairs.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2) } }
    val predObj: Map[String, Map[String, Array[String]]] =
      byPred.map { case (p, pairs) =>
        p -> pairs.groupBy(_._2).map { case (o, ps) => o -> ps.map(_._1) } }
    val factSet: Set[(String, String, String)] = facts.toSet
    val preds: Seq[String] = byPred.keys.toSeq.sorted

    def size(p: String): Long = byPred.get(p).map(_.length.toLong).getOrElse(0L)
    def funcIsSubject(p: String): Boolean = {
      val n = size(p).toDouble
      if (n == 0) true
      else predSubj(p).size / n >= predObj(p).size / n
    }

    /** #distinct projections of `proj` over all satisfying assignments —
      * naive backtracking, most-bound-first atom order (a correctness-
      * neutral order heuristic; the enumeration itself stays exhaustive). */
    def countDistinct(atoms: Seq[Atom], proj: Seq[String]): Long = {
      val out = scala.collection.mutable.HashSet[List[String]]()
      def tval(t: Term, env: Map[String, String]): Option[String] = t match {
        case Const(c) => Some(c)
        case Var(n)   => env.get(n)
      }
      def recurse(remaining: List[Atom], env: Map[String, String]): Unit =
        remaining match {
          case Nil => out += proj.map(env).toList
          case _ =>
            // pick the atom with the fewest unbound variables; among real
            // atoms prefer the smaller relation (pure speed, not pruning)
            val next = remaining.minBy { a =>
              val unbound = a.vars.count(v => !env.contains(v.name))
              val sz = a.p match { case Const(p) => size(p); case _ => Long.MaxValue }
              (unbound, sz)
            }
            val rest = remaining.filterNot(_ eq next)
            if (next.isPseudo) {
              // differentFrom guard: only evaluable once both sides bound;
              // defer by moving on if unbound sides remain (miner-generated
              // guards are always bound by real atoms eventually)
              (tval(next.s, env), tval(next.o, env)) match {
                case (Some(a), Some(b)) =>
                  if (next.p == Const(Atom.DifferentFrom) && a != b) recurse(rest, env)
                  else if (next.p != Const(Atom.DifferentFrom))
                    sys.error(s"RefMiner: unsupported pseudo-atom $next")
                case _ =>
                  // all real atoms bound already but guard not? impossible
                  // for miner rules; re-queue at the end
                  recurse(rest :+ next, env)
              }
            } else {
              val p = next.p match {
                case Const(c) => c
                case _        => sys.error("RefMiner: variable predicates unsupported")
              }
              (tval(next.s, env), tval(next.o, env)) match {
                case (Some(s), Some(o)) =>
                  if (factSet((s, p, o))) recurse(rest, env)
                case (Some(s), None) =>
                  val ov = next.o.asInstanceOf[Var].name
                  predSubj.get(p).flatMap(_.get(s)).foreach(_.foreach { o =>
                    recurse(rest, env + (ov -> o)) })
                case (None, Some(o)) =>
                  val sv = next.s.asInstanceOf[Var].name
                  predObj.get(p).flatMap(_.get(o)).foreach(_.foreach { s =>
                    recurse(rest, env + (sv -> s)) })
                case (None, None) =>
                  val sv = next.s.asInstanceOf[Var].name
                  val ov = next.o.asInstanceOf[Var].name
                  byPred.get(p).foreach(_.foreach { case (s, o) =>
                    if (sv == ov) { if (s == o) recurse(rest, env + (sv -> s)) }
                    else recurse(rest, env + (sv -> s, ov -> o))
                  })
              }
            }
        }
      recurse(atoms.toList, Map.empty)
      out.size.toLong
    }

    def headRel(r: Rule): String = r.head.p match {
      case Const(p) => p
      case _        => sys.error("variable head relation")
    }
    def headVarNames(r: Rule): Seq[String] = r.headVars.map(_.name)

    def supportThreshold(rel: String): Long = config.pruningMetric match {
      case PruningMetric.Support      => config.minSupport
      case PruningMetric.HeadCoverage =>
        math.ceil(config.minHeadCoverage * size(rel)).toLong
      case PruningMetric.Both =>
        math.max(config.minSupport,
          math.ceil(config.minHeadCoverage * size(rel)).toLong)
    }
    def initialThreshold(rel: String): Long = {
      val floor = if (config.minInitialSupport >= 0) config.minInitialSupport
                  else config.minSupport
      config.pruningMetric match {
        case PruningMetric.Support      => floor
        case PruningMetric.HeadCoverage =>
          math.ceil(config.minHeadCoverage * size(rel)).toLong
        case PruningMetric.Both =>
          math.max(floor, math.ceil(config.minHeadCoverage * size(rel)).toLong)
      }
    }

    def score(r: Rule): RefScored = {
      val hv   = headVarNames(r)
      val supp = countDistinct(r.atoms, hv)
      val body = countDistinct(r.body, hv)
      val fresh = Var(Iterator.from(0).map(i => s"pca$i")
        .find(n => !r.allVars.exists(_.name == n)).get)
      val pcaHead = if (funcIsSubject(headRel(r))) r.head.copy(o = fresh)
                    else r.head.copy(s = fresh)
      val pca = countDistinct(r.body :+ pcaHead, hv)
      val hs  = size(headRel(r))
      RefScored(r, supp, body, pca,
        headCoverage  = if (hs == 0) 0.0 else supp.toDouble / hs,
        stdConfidence = if (body == 0) 0.0 else supp.toDouble / body,
        pcaConfidence = if (pca == 0) 0.0 else supp.toDouble / pca)
    }

    final case class Node(rule: Rule, ancestorConf: Double)

    val seen   = scala.collection.mutable.Set[String]()
    val output = scala.collection.mutable.ArrayBuffer[RefScored]()
    var level: Seq[Node] = preds
      .filterNot(config.headExcludedRelations)
      .filter(p => config.headTargetRelations.isEmpty ||
        config.headTargetRelations.contains(p))
      .filter(p => size(p) >= initialThreshold(p))
      .map(p => Node(Rule(Atom(Var("x"), Const(p), Var("y")), Nil), -1.0))
    level.foreach(n => seen += n.rule.canonical)

    while (level.nonEmpty) {
      val scored: Map[String, RefScored] =
        level.filter(_.rule.isClosed).map(n => n.rule.canonical -> score(n.rule)).toMap
      val outputConf = scala.collection.mutable.Map[String, Double]()
      for (n <- level; s <- scored.get(n.rule.canonical)) {
        val pass = s.support >= supportThreshold(headRel(n.rule)) &&
          (config.pruningMetric == PruningMetric.Support ||
            s.headCoverage >= config.minHeadCoverage) &&
          s.stdConfidence >= config.minStdConfidence &&
          s.pcaConfidence >= config.minPcaConfidence &&
          s.pcaConfidence > n.ancestorConf
        if (pass) {
          output += s
          // Default bias never emits open-head rules; the openHead
          // exemption in Miner is unreachable here
          outputConf(n.rule.canonical) = s.pcaConfidence
        }
      }

      val refinable: Node => Boolean =
        n => scored.get(n.rule.canonical).forall(_.pcaConfidence < 1.0)
      val children = scala.collection.mutable.ArrayBuffer[Node]()
      for (n <- level if n.rule.length < config.maxDepth && refinable(n)) {
        val r     = n.rule
        val vars  = r.allVars
        val used  = vars.map(_.name).toSet
        val open  = r.openVars.map(_.name).toSet
        val fresh = Var(Iterator.from(0).map(k => s"z$k").find(!used(_)).get)
        val lastLevel = r.length + 1 == config.maxDepth
        val floor = math.max(n.ancestorConf,
          outputConf.getOrElse(r.canonical, -1.0))
        val templates = scala.collection.mutable.ArrayBuffer[Atom]()
        if (!lastLevel) for (v <- vars) {
          templates += Atom(v, Var("__p"), fresh)
          templates += Atom(fresh, Var("__p"), v)
        }
        for {
          v1 <- vars; v2 <- vars if v1 != v2
          if !lastLevel || (open -- Set(v1.name, v2.name)).isEmpty
        } templates += Atom(v1, Var("__p"), v2)
        for (tpl <- templates; rel <- preds) {
          val newAtom = tpl.copy(p = Const(rel))
          val child   = Rule(r.head, r.body :+ newAtom)
          val ok = !config.bodyExcludedRelations.contains(rel) &&
            !r.atoms.contains(newAtom) &&
            child.relationOccurrences(rel) <= config.maxRelationOccurrence &&
            countDistinct(r.atoms :+ newAtom, headVarNames(r)) >=
              supportThreshold(headRel(r))
          if (ok) children += Node(child, floor)
        }
      }
      level = children.groupBy(_.rule.canonical).toSeq.sortBy(_._1)
        .map { case (_, dup) =>
          val floor = dup.map(_.ancestorConf).max
          dup.filter(_.ancestorConf == floor).minBy(_.rule.amieString)
        }
        .filter(c => seen.add(c.rule.canonical))
    }
    output.toSeq.sortBy(s =>
      (headRel(s.rule), -s.pcaConfidence, -s.support, s.rule.amieString))
  }
}
