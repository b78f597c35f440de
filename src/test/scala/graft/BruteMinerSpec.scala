package graft

import graft.kb._
import graft.mine._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Full-SET mining differential (r4 verdict "What's missing" #4): the
 * depth-3 BFS is not SQL-expressible, so [[BruteForce.mine]] — an
 * independent in-memory reference replicating the documented AMIE
 * output policy over the naive evaluator — asserts set EQUALITY of the
 * engine's mined rules (canonical form AND support/bodySize/pcaBodySize)
 * on random KBs, a planted customer → nation → region dims corpus,
 * and hand-computed skyline / perfect-pruning cases. A spurious extra
 * rule, a missing rule, or a wrong metric all fail here; RefMinerSpec
 * and the benchmark's `mine` gate (full-set equality against
 * [[graft.mine.RefMiner]]) cover the same policy at larger scale.
 */
class BruteMinerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def toDF(kb: Set[(String, String, String)]) = {
    import spark.implicits._
    kb.toSeq.map(t => Triple(t._1, t._2, t._3)).toDF("subj", "pred", "obj")
  }

  private def minedSet(rules: Seq[ScoredRule]): Set[(String, Long, Long, Long)] =
    rules.map(s => (s.rule.canonical, s.support, s.bodySize, s.pcaBodySize)).toSet

  private def bruteSet(rs: Set[BruteForce.MinedRule]): Set[(String, Long, Long, Long)] =
    rs.map(r => (r.canonical, r.support, r.bodySize, r.pcaBodySize))

  test("mined rule set equals the independent brute-force miner on random KBs") {
    val rng = new scala.util.Random(43)
    for (i <- 1 to 6) {
      val kb  = BruteForce.randomKB(rng, 20 + rng.nextInt(16))
      val cfg = MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
        minPcaConfidence = 0.3, maxDepth = 3)
      val got  = minedSet(new Miner(toDF(kb), cfg).mine())
      val want = bruteSet(BruteForce.mine(kb, 2, 0.1, 0.3))
      withClue(s"case $i (extra=${got -- want}, missing=${want -- got}): ") {
        assert(got == want)
      }
    }
  }

  test("planted dims corpus: exact expected set — chain rules recovered, nothing extra") {
    // a dims-shaped KB at toy scale: 30 customers → 6 nations →
    // 3 regions (custRegion = the composition), 10 suppliers → nations
    val kb: Set[(String, String, String)] =
      (0 until 30).map(i => (s"c$i", "custNation", s"n${i % 6}")).toSet ++
      (0 until 6).map(j => (s"n$j", "nationRegion", s"r${j % 3}")) ++
      (0 until 30).map(i => (s"c$i", "custRegion", s"r${(i % 6) % 3}")) ++
      (0 until 10).map(k => (s"s$k", "suppNation", s"n${k % 6}"))
    val cfg = MinerConfig(minSupport = 3, minHeadCoverage = 0.05,
      minPcaConfidence = 0.5, maxDepth = 3)
    val got  = minedSet(new Miner(toDF(kb), cfg).mine())
    val want = bruteSet(BruteForce.mine(kb, 3, 0.05, 0.5))
    assert(got == want,
      s"extra=${got -- want}, missing=${want -- got}")
    val planted = Rule(
      Atom(Var("c"), Const("custRegion"), Var("r")),
      List(Atom(Var("c"), Const("custNation"), Var("n")),
        Atom(Var("n"), Const("nationRegion"), Var("r"))))
    assert(got.exists(_._1 == planted.canonical), "planted chain rule missing")
    // support 30 (every customer), body 30, pca 30 (PCA confidence 1.0)
    assert(got.contains((planted.canonical, 30L, 30L, 30L)))
    // the inverse direction fans out 1 region → 2 nations, so the
    // custNation-head analog sits at PCA exactly 0.5 (body 60, pca 60):
    // the ≥-threshold admits it — a hand-derivable borderline both
    // implementations must agree on
    val inverse = Rule(Atom(Var("c"), Const("custNation"), Var("n")),
      List(Atom(Var("c"), Const("custRegion"), Var("r")),
        Atom(Var("n"), Const("nationRegion"), Var("r"))))
    assert(got.contains((inverse.canonical, 30L, 60L, 60L)))
  }

  test("perfect-rule pruning: a PCA-1.0 depth-2 rule blocks all its descendants (hand case)") {
    val kb: Set[(String, String, String)] = Set(
      ("a1", "r0", "b1"), ("a2", "r0", "b2"),
      ("a1", "r1", "b1"), ("a2", "r1", "b2"), ("a3", "r1", "b3"))
    val got  = minedSet(new Miner(toDF(kb),
      MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
        minPcaConfidence = 0.1, maxDepth = 3)).mine())
    val want = bruteSet(BruteForce.mine(kb, 2, 0.1, 0.1))
    assert(got == want)
    // hand-computed: exactly the two depth-2 rules, both PCA 1.0 (perfect
    // → never refined → no depth-3 output exists)
    val r0FromR1 = Rule(Atom(Var("x"), Const("r0"), Var("y")),
      List(Atom(Var("x"), Const("r1"), Var("y"))))
    val r1FromR0 = Rule(Atom(Var("x"), Const("r1"), Var("y")),
      List(Atom(Var("x"), Const("r0"), Var("y"))))
    assert(got == Set(
      (r0FromR1.canonical, 2L, 3L, 2L),
      (r1FromR0.canonical, 2L, 2L, 2L)))
  }

  test("skyline: a depth-3 child at its parents' PCA confidence is suppressed (hand case)") {
    // h ⇐ p has PCA 2/3; the 2-var depth-3 child h ⇐ p ∧ q(y,x) passes
    // every threshold with the SAME PCA 2/3 → strict-improvement skyline
    // must drop it (MiningAssistant.java:1263: ≤ ancestor ⇒ reject)
    val kb: Set[(String, String, String)] = Set(
      ("a1", "h", "b1"), ("a2", "h", "b2"),
      ("a1", "p", "b1"), ("a2", "p", "b2"), ("a1", "p", "b2"),
      ("b1", "q", "a1"), ("b2", "q", "a2"), ("b2", "q", "a1"))
    val got  = minedSet(new Miner(toDF(kb),
      MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
        minPcaConfidence = 0.1, maxDepth = 3)).mine())
    val want = bruteSet(BruteForce.mine(kb, 2, 0.1, 0.1))
    assert(got == want)
    val child = Rule(Atom(Var("x"), Const("h"), Var("y")),
      List(Atom(Var("x"), Const("p"), Var("y")),
        Atom(Var("y"), Const("q"), Var("x"))))
    assert(!got.exists(_._1 == child.canonical),
      "skyline failed: child at parent confidence was emitted")
    // ...but the depth-2 parents themselves are present
    val hFromP = Rule(Atom(Var("x"), Const("h"), Var("y")),
      List(Atom(Var("x"), Const("p"), Var("y"))))
    assert(got.exists(_._1 == hFromP.canonical))
  }
}
