package graft

import graft.kb._
import graft.mine._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Assistant-variant (bias) coverage — the reference's
 * MiningAssistantFactory surface (SURVEY.md §2.11):
 *
 *  - `lazy`/`lazit` resolve to `default` (their truncated denominators
 *    only ever push a failing rule further below its threshold);
 *  - `oneVar` counts support on the functional head variable only
 *    (MiningAssistant.java:1394-1404);
 *  - `signatured` scores and emits rules with the head relation's
 *    domain/range type atoms appended
 *    (RelationSignatureDefaultMiningAssistant.java:49-103).
 */
class BiasSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = MinerConfig(
    minSupport = 2, minHeadCoverage = 0.1, minPcaConfidence = 0.1,
    maxDepth = 3)

  test("MineCLI resolves the lazy and lazit biases to the default bias") {
    val kb = Fixtures.baseKB(spark)
    for (name <- Seq("lazy", "lazit")) {
      val (resolvedKB, resolved) = graft.tools.MineCLI.resolve(name, kb,
        cfg.copy(bias = MiningBias.OneVar))
      assert(resolvedKB eq kb)
      assert(resolved == cfg, name)
    }
  }

  test("oneVar bias counts the functional head variable only") {
    import spark.implicits._
    // h is subject-functional; r(x,y) ⇒ h(x,y) has 3 support PAIRS but
    // only 2 distinct functional-variable (x) bindings
    val kb = Seq(
      Triple("a", "h", "o1"), Triple("a", "h", "o2"), Triple("b", "h", "o1"),
      Triple("a", "r", "o1"), Triple("a", "r", "o2"),
      Triple("b", "r", "o1"), Triple("b", "r", "o2")).toDF()
    val c2 = MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
      minPcaConfidence = 0.1, maxDepth = 2)
    def find(rules: Seq[ScoredRule]) = rules.find { s =>
      s.rule.head.p == Const("h") && s.rule.body.map(_.p) == List(Const("r"))
    }.get
    val dflt = find(new Miner(kb, c2).mine())
    assert(dflt.support == 3)
    assert(dflt.stdConfidence == 0.75) // 3 of 4 body pairs
    val one = find(new Miner(kb, c2.copy(bias = MiningBias.OneVar)).mine())
    assert(one.support == 2)          // distinct x only
    assert(one.stdConfidence == 1.0)  // both body x-bindings have some h
    assert(one.pcaConfidence == 1.0)
  }

  test("signatured bias appends domain/range type atoms and rescores") {
    import spark.implicits._
    // extended fixture + typing: Jonathan is NOT typed Person, so the
    // domain constraint removes his (Jonathan, Paris) body binding and R1
    // tightens from std/PCA 0.75 to 1.0 (support stays 3)
    val kb = (Fixtures.extendedFacts ++ Seq(
      Triple("Luis", "rdf:type", "Person"),
      Triple("Thomas", "rdf:type", "Person"),
      Triple("Antoine", "rdf:type", "Person"),
      Triple("Oana", "rdf:type", "Person"),
      Triple("Paris", "rdf:type", "City"),
      Triple("Villejuif", "rdf:type", "City"),
      Triple("livesIn", "rdfs:domain", "Person"),
      Triple("livesIn", "rdfs:range", "City"))).toDF()
    val (domains, ranges) = Taxonomy.relationSignatures(kb)
    assert(domains == Map("livesIn" -> "Person"))
    assert(ranges == Map("livesIn" -> "City"))

    val rules = new Miner(kb,
      cfg.copy(bias = MiningBias.Signatured(domains, ranges))).mine()
    // schema relations never appear in any rule
    rules.foreach { s =>
      val preds = s.rule.atoms.map(_.p).collect { case Const(p) => p }
      assert(!preds.exists(Set("rdfs:domain", "rdfs:range")(_)), s.rule.toString)
      assert(s.rule.head.p != Const("rdf:type"))
    }
    val r1 = rules.find { s =>
      s.rule.head.p == Const("livesIn") &&
      s.rule.body.map(_.p).contains(Const("worksAt")) &&
      s.rule.body.map(_.p).contains(Const("isLocatedIn"))
    }
    assert(r1.isDefined, rules.map(_.rule.amieString).mkString("\n"))
    // emitted rule carries the type constraints (reference adds them to
    // the rule's triples before output)
    val typeAtoms = r1.get.rule.body.filter(_.p == Const("rdf:type"))
    assert(typeAtoms.map(_.o).toSet == Set(Const("Person"), Const("City")))
    assert(r1.get.support == 3)
    assert(r1.get.stdConfidence == 1.0)
    assert(r1.get.pcaConfidence == 1.0)
  }

  test("anyBurl bias mines path rules only, with exact metrics") {
    val kb = Fixtures.extendedKB(spark)
    val rules = new Miner(kb, cfg.copy(bias = MiningBias.AnyBurl)).mine()
    assert(rules.nonEmpty)
    val m = new Metrics(kb.distinct(), graft.kb.KGStats.compute(kb.distinct()))
    rules.foreach { s =>
      assert(m.containsSinglePath(s.rule),
        s"not a path rule: ${s.rule.amieString}")
    }
    val r1 = rules.find { s =>
      s.rule.head.p == Const("livesIn") &&
      s.rule.body.map(_.p).toSet == Set(Const("worksAt"), Const("isLocatedIn"))
    }
    assert(r1.isDefined)
    assert(r1.get.support == 3)
    assert(r1.get.stdConfidence == 0.75)
    assert(r1.get.pcaConfidence == 0.75)
  }

  test("relation signatures inherit through rdfs:subPropertyOf") {
    import spark.implicits._
    val kb = Seq(
      Triple("mayorOf", "rdfs:subPropertyOf", "leaderOf"),
      Triple("leaderOf", "rdfs:domain", "Person"),
      Triple("leaderOf", "rdfs:range", "Place")).toDF()
    val (domains, ranges) = Taxonomy.relationSignatures(kb)
    assert(domains("mayorOf") == "Person")
    assert(ranges("mayorOf") == "Place")
  }

  test("signature inheritance picks the NEAREST declared ancestor") {
    import spark.implicits._
    // r -> p1 -> a0; both p1 and a0 declare domains. The nearest (p1) must
    // win even though a0 sorts first lexicographically.
    val kb = Seq(
      Triple("r", "rdfs:subPropertyOf", "p1"),
      Triple("p1", "rdfs:subPropertyOf", "a0"),
      Triple("p1", "rdfs:domain", "D1"),
      Triple("a0", "rdfs:domain", "D0")).toDF()
    val (domains, _) = Taxonomy.relationSignatures(kb)
    assert(domains("r") == "D1")
    assert(domains("p1") == "D1") // own declaration, not inherited
  }
}
