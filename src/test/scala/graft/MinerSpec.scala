package graft
// (instantiation-operator coverage lives at the bottom of this suite)

import graft.kb._
import graft.mine._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end mining on the reference's 12/17-fact fixture KBs. */
class MinerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = MinerConfig(
    minSupport = 2, minHeadCoverage = 0.1, minPcaConfidence = 0.1,
    maxDepth = 3)

  test("duplicate fact rows mine the same rules and metrics as the distinct KB") {
    // the KB is a fact SET: every fact three times must not inflate the
    // stats pass (relation sizes, so head coverage) or any count
    val kb  = Fixtures.extendedKB(spark)
    val dup = kb.union(kb).union(kb)
    def key(rules: Seq[ScoredRule]) = rules.map(s => (s.rule.canonical,
      s.support, s.bodySize, s.pcaBodySize, s.headCoverage, s.pcaConfidence))
    val want = key(new Miner(kb.distinct(), cfg).mine())
    assert(want.nonEmpty)
    assert(key(new Miner(dup, cfg).mine()) == want)
  }

  test("mine() releases the Miner's cached state — no growth across lifecycles (r4 verdict)") {
    // depth-3 search forces the lazy (pred,subj)/(pred,obj) index views,
    // so all three persisted frames are exercised; two full lifecycles
    // must leave the persistent-RDD registry no larger than before
    val kb   = Fixtures.baseKB(spark)
    val base = spark.sparkContext.getPersistentRDDs.size
    new Miner(kb, cfg).mine()
    new Miner(kb, cfg).mine()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= base,
      s"cached state leaked across Miner lifecycles: $base -> $after")
    // close() is idempotent and a closed Miner still mines correctly
    val m = new Miner(kb, cfg)
    val rules = m.mine()
    m.close()
    assert(rules.exists(s => s.rule.head.p == Const("livesIn")))
  }

  test("hub-shaped bodies mine the same rules and metrics as RefMiner") {
    import spark.implicits._
    // h and b share one object: h(x,y) ∧ b(z,y) binds 1,500 × 1,600 ≈ 2.4M
    // (x, y, z) rows, and the closing candidates of that rule count over
    // the whole cross section
    val rnd = new scala.util.Random(13)
    val triples =
      (0 until 1500).map(i => (s"p$i", "h", "hub")) ++
      (0 until 60).map(i => (s"p$i", "h", s"o${i % 5}")) ++
      (0 until 1600).map(j => (s"q$j", "b", "hub")) ++
      (0 until 1000).map(i => (s"p$i", "r", s"q${rnd.nextInt(1600)}")) ++
      (0 until 100).map(i => (s"u$i", "r", s"q${rnd.nextInt(1600)}"))
    val c = MinerConfig(minSupport = 50, minHeadCoverage = 0.01,
      minPcaConfidence = 0.1, maxDepth = 3, headTargetRelations = Seq("h"))
    val mined = new Miner(triples.toDF("subj", "pred", "obj"), c).mine()
      .map(s => (s.rule.canonical, s.support, s.bodySize, s.pcaBodySize,
        s.headCoverage, s.stdConfidence, s.pcaConfidence)).toSet
    val ref = RefMiner.mine(triples, c)
      .map(s => (s.rule.canonical, s.support, s.bodySize, s.pcaBodySize,
        s.headCoverage, s.stdConfidence, s.pcaConfidence)).toSet
    assert(mined == ref, s"extra=${mined -- ref}, missing=${ref -- mined}")
    // the planted path rule h(x,y) ⇐ r(x,z) ∧ b(z,y) closes over the hub
    val planted = Rule(Atom(Var("x"), Const("h"), Var("y")),
      List(Atom(Var("x"), Const("r"), Var("z")), Atom(Var("z"), Const("b"), Var("y"))))
    assert(mined.exists(m => m._1 == planted.canonical && m._2 == 1000),
      mined.mkString("\n"))
  }

  test("mines worksAt∧isLocatedIn ⇒ livesIn on the base fixture with exact metrics") {
    val rules = new Miner(Fixtures.baseKB(spark), cfg).mine()
    assert(rules.nonEmpty)
    val r1 = rules.find { s =>
      s.rule.head.p == Const("livesIn") && s.rule.body.size == 2 &&
      s.rule.body.map(_.p).toSet == Set(Const("worksAt"), Const("isLocatedIn"))
    }
    assert(r1.isDefined, s"expected R1 among:\n${rules.map(_.rule.amieString).mkString("\n")}")
    assert(r1.get.support == 3)
    assert(r1.get.headCoverage == 0.75)
    assert(r1.get.stdConfidence == 1.0)
    assert(r1.get.pcaConfidence == 1.0)
  }

  test("pruning metric selector: -pm support ignores head coverage (AMIE.java:457-467,853-867)") {
    // R1 (worksAt∧isLocatedIn ⇒ livesIn) has support 3, headCoverage 0.75;
    // with minhc 0.9 only the support-driven mode may emit it
    def mine(pm: PruningMetric) = new Miner(Fixtures.baseKB(spark),
      cfg.copy(minHeadCoverage = 0.9, pruningMetric = pm)).mine()
    def hasR1(rs: Seq[ScoredRule]) = rs.exists(s =>
      s.rule.head.p == Const("livesIn") &&
      s.rule.body.map(_.p).toSet == Set(Const("worksAt"), Const("isLocatedIn")))
    assert(hasR1(mine(PruningMetric.Support)))
    assert(!hasR1(mine(PruningMetric.HeadCoverage)))
    assert(!hasR1(mine(PruningMetric.Both)))
  }

  test("no duplicate canonical rules in output") {
    val rules = new Miner(Fixtures.extendedKB(spark), cfg).mine()
    val canon = rules.map(_.rule.canonical)
    assert(canon.distinct.size == canon.size)
  }

  test("all output rules are closed and meet thresholds") {
    val rules = new Miner(Fixtures.extendedKB(spark), cfg).mine()
    rules.foreach { s =>
      assert(s.rule.isClosed, s.rule.toString)
      assert(s.support >= 2)
      assert(s.pcaConfidence >= 0.1)
    }
  }

  test("canonical form identifies renamed/permuted rules") {
    val a = Rule(
      Atom(Var("x"), Const("livesIn"), Var("c")),
      List(Atom(Var("x"), Const("worksAt"), Var("t")), Atom(Var("t"), Const("isLocatedIn"), Var("c"))))
    val b = Rule(
      Atom(Var("p"), Const("livesIn"), Var("q")),
      List(Atom(Var("r"), Const("isLocatedIn"), Var("q")), Atom(Var("p"), Const("worksAt"), Var("r"))))
    assert(a.canonical == b.canonical)
    val c = Rule(
      Atom(Var("p"), Const("livesIn"), Var("q")),
      List(Atom(Var("q"), Const("isLocatedIn"), Var("r")), Atom(Var("p"), Const("worksAt"), Var("r"))))
    assert(a.canonical != c.canonical)
  }

  test("O_I instantiation: mines constant rules with -const enabled") {
    val rules = new Miner(Fixtures.baseKB(spark),
      cfg.copy(enableConstants = true)).mine()
    // worksAt(x, Telecom) => livesIn(x, Paris): support 3, std 1.0, PCA 1.0
    val inst = rules.find { s =>
      s.rule.head == Atom(Var("x"), Const("livesIn"), Const("Paris")) &&
        s.rule.body == List(Atom(Var("x"), Const("worksAt"), Const("Telecom")))
    }
    assert(inst.isDefined,
      s"instantiated rule missing; got:\n${rules.map(_.rule.amieString).mkString("\n")}")
    assert(inst.get.support == 3)
    assert(inst.get.stdConfidence == 1.0)
    assert(inst.get.pcaConfidence == 1.0)
  }

  test("O_I recursion guard: differentFrom pseudo-atom suppresses duplicate constants") {
    import spark.implicits._
    // two people hold BOTH jobs C1 and C2; the rule
    //   senior(x,T) <= emp(x,C1) ∧ emp(x,z), z ≠ C1   (then z → C2)
    // is only reachable if the dangling emp(x,z) next to the instantiated
    // emp(x,C1) carries the differentFrom guard (DMA:370-397) — without
    // it, z → C1 would emit a trivially-redundant duplicate-atom rule.
    val kb = Seq(
      Triple("a", "emp", "C1"), Triple("a", "emp", "C2"),
      Triple("b", "emp", "C1"), Triple("b", "emp", "C2"),
      Triple("c", "emp", "C1"),
      Triple("a", "senior", "T"), Triple("b", "senior", "T")).toDF()
    val rules = new Miner(kb, MinerConfig(
      minSupport = 2, minHeadCoverage = 0.1, minPcaConfidence = 0.1,
      maxDepth = 4, enableConstants = true)).mine()
    // no emitted rule repeats an identical atom
    rules.foreach { s =>
      val real = s.rule.atoms.filterNot(_.isPseudo)
      assert(real.distinct.size == real.size, s.rule.toString)
    }
    val guarded = rules.find { s =>
      s.rule.head == Atom(Var("x"), Const("senior"), Const("T")) &&
      s.rule.body.filterNot(_.isPseudo).toSet ==
        Set(Atom(Var("x"), Const("emp"), Const("C1")),
          Atom(Var("x"), Const("emp"), Const("C2")))
    }
    assert(guarded.isDefined, rules.map(_.rule.amieString).mkString("\n"))
    assert(guarded.get.support == 2)
    assert(guarded.get.stdConfidence == 1.0)
    assert(guarded.get.pcaConfidence == 1.0)
  }

  test("backtracking equivalence matches canonical-form equality") {
    val a = Rule(
      Atom(Var("x"), Const("livesIn"), Var("c")),
      List(Atom(Var("x"), Const("worksAt"), Var("t")), Atom(Var("t"), Const("isLocatedIn"), Var("c"))))
    val b = Rule(
      Atom(Var("p"), Const("livesIn"), Var("q")),
      List(Atom(Var("r"), Const("isLocatedIn"), Var("q")), Atom(Var("p"), Const("worksAt"), Var("r"))))
    val c = Rule(
      Atom(Var("p"), Const("livesIn"), Var("q")),
      List(Atom(Var("q"), Const("isLocatedIn"), Var("r")), Atom(Var("p"), Const("worksAt"), Var("r"))))
    assert(Rule.equivalent(a, b))
    assert(!Rule.equivalent(a, c))
    // constants must match exactly; variable mapping is injective
    val d = Rule(Atom(Var("x"), Const("livesIn"), Const("Paris")),
      List(Atom(Var("x"), Const("worksAt"), Var("t"))))
    val e = Rule(Atom(Var("y"), Const("livesIn"), Const("Paris")),
      List(Atom(Var("y"), Const("worksAt"), Var("u"))))
    val f = Rule(Atom(Var("y"), Const("livesIn"), Const("Lyon")),
      List(Atom(Var("y"), Const("worksAt"), Var("u"))))
    assert(Rule.equivalent(d, e))
    assert(!Rule.equivalent(d, f))
    val g = Rule(Atom(Var("x"), Const("h"), Var("x")), Nil) // repeated var
    val h = Rule(Atom(Var("x"), Const("h"), Var("y")), Nil)
    assert(!Rule.equivalent(g, h))
  }

  test("O_I on extended KB: PCA 0.75 for the Telecom/Paris rule") {
    val rules = new Miner(Fixtures.extendedKB(spark),
      cfg.copy(enableConstants = true)).mine()
    val inst = rules.find { s =>
      s.rule.head == Atom(Var("x"), Const("livesIn"), Const("Paris")) &&
        s.rule.body == List(Atom(Var("x"), Const("worksAt"), Const("Telecom")))
    }
    assert(inst.isDefined)
    assert(inst.get.support == 3)
    assert(inst.get.stdConfidence == 0.75) // Jonathan works at Telecom, lives in Villejuif
    assert(inst.get.pcaConfidence == 0.75)
  }
}
