package graft

import graft.kb._
import graft.mine._
import graft.tools.MineCLI
import org.scalatest.funsuite.AnyFunSuite

/**
 * The experimental assistant family (reference
 * mining/src/main/java/amie/mining/assistant/experimental/) and the CLI
 * entry point (AMIE.main / AMIEOptions surface):
 *
 *  - seedsCount: support restricted to a seed-subject set, supportRatio
 *    over the seed count, head cardinality seed-restricted;
 *  - instantiatedHead: `⇒ r(x, C)` seeds, counting on the functional var;
 *  - existential: rules with an open HEAD variable are emitted;
 *  - MineCLI: flag parsing + end-to-end TSV → rules run.
 */
class ExperimentalBiasSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("seedsCount bias: support and head coverage seed-restricted, denominators not") {
    import spark.implicits._
    val kb = Seq(
      Triple("a", "h", "o1"), Triple("b", "h", "o1"), Triple("c", "h", "o1"),
      Triple("a", "r", "o1"), Triple("b", "r", "o1"),
      Triple("c", "r", "o1"), Triple("d", "r", "o1")).toDF()
    val schema = Seq("a", "b").toDF("subj")
    val (augmented, seedCount) = MiningBias.withSeedSubjects(kb, schema)
    assert(seedCount == 2)
    val rules = new Miner(augmented,
      MinerConfig(minSupport = 2, minHeadCoverage = 0.1, minPcaConfidence = 0.1,
        maxDepth = 2, bias = MiningBias.SeedsCount(seedCount))).mine()
    val rh = rules.find(s => s.rule.head.p == Const("h") &&
      s.rule.body.map(_.p) == List(Const("r"))).get
    assert(rh.support == 2)        // {a, b} — c matches but is not a seed
    assert(rh.bodySize == 4)       // UNrestricted: distinct x of r = {a,b,c,d}
    assert(rh.stdConfidence == 0.5)
    assert(rh.pcaBodySize == 3)    // UNrestricted: x of r with some h = {a,b,c}
    assert(rh.headCoverage == 1.0) // seed-restricted head size = 2
    assert(rh.supportRatio == 1.0) // support / seedCount
    // the synthetic seed relation never appears in any rule
    assert(rules.forall(s =>
      !s.rule.atoms.exists(_.p == Const(MiningBias.SeedRelation))))
  }

  test("instantiatedHead bias seeds instantiated heads; constants close them") {
    import spark.implicits._
    val kb = Seq(
      Triple("a", "h", "t"), Triple("b", "h", "t"),
      Triple("a", "r", "u"), Triple("b", "r", "u"), Triple("c", "r", "u2")).toDF()
    val rules = new Miner(kb,
      MinerConfig(minSupport = 2, minHeadCoverage = 0.1, minPcaConfidence = 0.1,
        maxDepth = 3, enableConstants = true,
        bias = MiningBias.InstantiatedHead)).mine()
    // r(x, u) ⇒ h(x, t): reachable only through an instantiated-head seed
    val inst = rules.find { s =>
      s.rule.head == Atom(Var("x"), Const("h"), Const("t")) &&
      s.rule.realBody.exists(a => a.p == Const("r") && a.o == Const("u"))
    }
    assert(inst.isDefined, rules.map(_.rule.amieString).mkString("; "))
    assert(inst.get.support == 2)
    assert(inst.get.stdConfidence == 1.0)
  }

  test("existential bias emits rules with an open head variable; default does not") {
    import spark.implicits._
    val kb = Seq(
      Triple("a", "h", "pA"), Triple("b", "h", "pB"),
      Triple("a", "r1", "c1"), Triple("c1", "r2", "a"),
      Triple("b", "r1", "c2"), Triple("c2", "r2", "b"),
      Triple("d", "r1", "c3"), Triple("c3", "r2", "d")).toDF()
    val cfg = MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
      minPcaConfidence = 0.1, maxDepth = 3)
    def existentialRules(rules: Seq[ScoredRule]) = rules.filter { s =>
      val headVars = s.rule.headVars.map(_.name).toSet
      s.rule.openVars.nonEmpty && s.rule.openVars.forall(v => headVars(v.name))
    }
    val dflt = new Miner(kb, cfg).mine()
    assert(existentialRules(dflt).isEmpty)
    val exst = new Miner(kb, cfg.copy(bias = MiningBias.Existential)).mine()
    val open = existentialRules(exst)
    assert(open.nonEmpty, exst.map(_.rule.amieString).mkString("; "))
    // r1(x,z) ∧ r2(z,x) ⇒ h(x,y): support counts (x,y) pairs with an h
    // fact; denominators count the body-bound head variable x only
    val rule = open.find(s => s.rule.head.p == Const("h") &&
      s.rule.realBody.map(_.p).toSet == Set(Const("r1"), Const("r2"))).get
    assert(rule.support == 2)
    assert(rule.bodySize == 3)          // x ∈ {a, b, d}
    assert(rule.pcaBodySize == 2)       // x with some h fact
    assert(rule.stdConfidence == 2.0 / 3.0)
    assert(rule.pcaConfidence == 1.0)
  }

  test("existential bias: open-head confidences stay ≤ 1 and never block refinement") {
    import spark.implicits._
    // `a` has TWO h objects: the pair-counted support (3) exceeds the
    // body-bound x count (2); dividing pairs by the x-denominators (the
    // pre-fix behavior) would yield stdConf 1.0 / pcaConf 1.5. h has 2
    // distinct subjects vs 2 distinct objects, so its functional variable
    // is the subject x (ties break to subject) — the body-bound one.
    val kb = Seq(
      Triple("a", "h", "y1"), Triple("a", "h", "y2"), Triple("b", "h", "y1"),
      Triple("a", "r1", "c1"), Triple("b", "r1", "c1"), Triple("d", "r1", "c1"),
      Triple("y1", "r3", "a"), Triple("y1", "r3", "b")).toDF()
    val rules = new Miner(kb,
      MinerConfig(minSupport = 2, minHeadCoverage = 0.1, minPcaConfidence = 0.1,
        maxDepth = 3, enableConstants = true,
        bias = MiningBias.Existential)).mine()
    assert(rules.forall(s => s.stdConfidence <= 1.0 && s.pcaConfidence <= 1.0),
      rules.map(s => (s.rule.amieString, s.stdConfidence, s.pcaConfidence)).mkString("; "))
    // the open instantiated rule r1(x,c1) ⇒ h(x,y): Support keeps the
    // bias's pair count; confidences use the body-bound x counts
    val open = rules.find(s =>
      s.rule.head == Atom(Var("x"), Const("h"), Var("y")) &&
      s.rule.realBody == List(Atom(Var("x"), Const("r1"), Const("c1")))).get
    assert(open.support == 3)
    assert(open.bodySize == 3)                  // x ∈ {a, b, d}
    assert(open.stdConfidence == 2.0 / 3.0)     // body-bound x with h = {a, b}
    assert(open.pcaConfidence == 1.0)           // degenerate shape, capped
    // despite pcaConfidence == 1.0 the open rule still refines: its closed
    // child r1(x,c1) ∧ r3(y,x) ⇒ h(x,y) must be in the output (pre-fix the
    // perfect-rule pruning + skyline floor suppressed it)
    val closed = rules.find(s =>
      s.rule.head == Atom(Var("x"), Const("h"), Var("y")) &&
      s.rule.realBody.toSet == Set(Atom(Var("x"), Const("r1"), Const("c1")),
        Atom(Var("y"), Const("r3"), Var("x"))))
    assert(closed.isDefined, rules.map(_.rule.amieString).mkString("; "))
    assert(closed.get.support == 2 && closed.get.stdConfidence == 1.0)
  }

  test("minInitialSupport gates seeds independently of minSupport") {
    import spark.implicits._
    val kb = Seq(
      Triple("a", "big", "o1"), Triple("b", "big", "o2"), Triple("c", "big", "o3"),
      Triple("a", "small", "o1")).toDF()
    // minis = 2 removes `small` from the seed set entirely — it can still
    // appear in bodies (threshold there is per-HEAD)
    val rules = new Miner(kb, MinerConfig(minSupport = 1, minInitialSupport = 2,
      minHeadCoverage = 0.1, minPcaConfidence = 0.0, maxDepth = 2)).mine()
    assert(rules.forall(s => s.rule.head.p != Const("small")))
  }

  test("existentialRules bias: open-variable atoms rewrite to exists meta-atoms") {
    import spark.implicits._
    // knows∧∃vip ⇒ trusts holds exactly (A,B,C); D knows X but trusts
    // only Y (keeps knows ⇒ trusts at PCA 0.75 so it stays refinable),
    // so the rewritten rule (PCA 1.0) clears the skyline floor
    val kb = Seq(
      Triple("A", "knows", "X"), Triple("B", "knows", "X"),
      Triple("C", "knows", "X"), Triple("D", "knows", "X"),
      Triple("A", "vip", "1"), Triple("B", "vip", "1"), Triple("C", "vip", "1"),
      Triple("A", "trusts", "X"), Triple("B", "trusts", "X"),
      Triple("C", "trusts", "X"), Triple("D", "trusts", "Y")).toDF()
    val cfg = MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
      minPcaConfidence = 0.1, maxDepth = 4, bias = MiningBias.ExistentialRules)
    val rules = new Miner(kb, cfg).mine()
    val rewritten = rules.find(s =>
      s.rule.head.p == Const("trusts") &&
      s.rule.body.toSet == Set(
        Atom(Var("x"), Const("knows"), Var("y")),
        Atom(Const("vip"), Const(Atom.Exists), Var("x"))))
    assert(rewritten.isDefined, rules.map(_.rule.amieString).mkString("\n"))
    assert(rewritten.get.support == 3)
    assert(rewritten.get.stdConfidence == 1.0)
    assert(rewritten.get.pcaConfidence == 1.0)
    assert(rewritten.get.headCoverage == 0.75)
    // the default bias never emits meta-atom rules on the same KB
    val plain = new Miner(kb, cfg.copy(bias = MiningBias.Default)).mine()
    assert(plain.forall(_.rule.body.forall(!_.isMeta)))
  }

  test("existsRewrite shape guards: head-open, both-ends-open, meta-carried") {
    import spark.implicits._
    val miner = new Miner(Seq(Triple("a", "r", "b")).toDF(),
      MinerConfig(bias = MiningBias.ExistentialRules))
    def r(head: Atom, body: Atom*) = Rule(head, body.toList)
    val h = Atom(Var("x"), Const("h"), Var("y"))
    // open z in a body atom → exists-rewritten (z in object → exists(rel, subj))
    val ok = miner.existsRewrite(r(h,
      Atom(Var("x"), Const("b1"), Var("y")), Atom(Var("x"), Const("b2"), Var("z"))))
    assert(ok.contains(Rule(h, List(
      Atom(Var("x"), Const("b1"), Var("y")),
      Atom(Const("b2"), Const(Atom.Exists), Var("x"))))))
    // open z in subject → existsInv(rel, obj)
    val inv = miner.existsRewrite(r(h,
      Atom(Var("x"), Const("b1"), Var("y")), Atom(Var("z"), Const("b2"), Var("x"))))
    assert(inv.contains(Rule(h, List(
      Atom(Var("x"), Const("b1"), Var("y")),
      Atom(Const("b2"), Const(Atom.ExistsInv), Var("x"))))))
    // head open variable → reference-degenerate (-1 head cardinality): skip
    assert(miner.existsRewrite(r(h, Atom(Var("x"), Const("b1"), Var("z")))).isEmpty)
    // both ends of one atom open → reference aborts (:53-55)
    assert(miner.existsRewrite(r(h,
      Atom(Var("x"), Const("b1"), Var("y")),
      Atom(Var("z1"), Const("b2"), Var("z2")))).isEmpty)
    // nothing open → nothing to rewrite
    assert(miner.existsRewrite(r(h, Atom(Var("x"), Const("b1"), Var("y")))).isEmpty)
  }

  test("MineCLI parses the AMIE flag surface") {
    val a = MineCLI.parse(Seq("-i", "/x.tsv", "-o", "/out", "-mins", "7",
      "-minis", "9", "-minhc", "0.2", "-minpca", "0.3", "-minc", "0.4",
      "-maxad", "4", "-const", "-bias", "lazy", "-htr", "r1,r2",
      "-bexr", "r3", "-full", "-optimcb", "-rl", "3"))
    assert(a.input == "/x.tsv" && a.output == "/out")
    assert(a.config.minSupport == 7 && a.config.minInitialSupport == 9)
    assert(a.config.minHeadCoverage == 0.2 && a.config.minPcaConfidence == 0.3)
    assert(a.config.minStdConfidence == 0.4 && a.config.maxDepth == 4)
    // -full is -optimfh; -optimcb parses and changes nothing
    assert(a.config.enableConstants && a.config.enableFunctionalityHeuristic)
    assert(a.config.headTargetRelations == Seq("r1", "r2"))
    assert(a.config.bodyExcludedRelations == Set("r3"))
    assert(a.config.maxRelationOccurrence == 3)
    assert(a.biasName == "lazy")
    assert(a.config.pruningMetric == PruningMetric.Both) // engine default

    // -pm selector (AMIE.java:853-867): support | anything-else=headcoverage
    val pmS = MineCLI.parse(Seq("-i", "/x", "-o", "/o", "-pm", "support"))
    assert(pmS.config.pruningMetric == PruningMetric.Support)
    val pmH = MineCLI.parse(Seq("-i", "/x", "-o", "/o", "-pm", "headcoverage"))
    assert(pmH.config.pruningMetric == PruningMetric.HeadCoverage)
    assert(MineCLI.parse(Seq("-i", "/x", "-o", "/o", "-ompca")).omitPca)
    assert(MineCLI.parse(Seq("-i", "/x", "-o", "/o", "-optimcb")).config == MinerConfig())
  }

  test("MineCLI bias resolution: seedsCount augments the KB, typed presets the config") {
    import spark.implicits._
    val kb = Seq(Triple("a", "r", "b"), Triple("a", "rdf:type", "T")).toDF()
    val (kbSeeds, cfgSeeds) = MineCLI.resolve("seedsCount", kb, MinerConfig())
    assert(cfgSeeds.bias.isInstanceOf[MiningBias.SeedsCount])
    assert(cfgSeeds.bias.asInstanceOf[MiningBias.SeedsCount].seedCount == 1) // subj {a}
    assert(kbSeeds.where($"pred" === MiningBias.SeedRelation).count() == 1)
    val (_, cfgTyped) = MineCLI.resolve("typed", kb, MinerConfig())
    assert(cfgTyped.enableConstants &&
      cfgTyped.instantiationTargetRelations == Seq("rdf:type"))
    val (_, cfgEx) = MineCLI.resolve("existential", kb, MinerConfig())
    assert(cfgEx.bias == MiningBias.Existential)
    val (_, cfgER) = MineCLI.resolve(
      "amie.mining.assistant.experimental.ExistentialRulesMiningAssistant",
      kb, MinerConfig())
    assert(cfgER.bias == MiningBias.ExistentialRules)
  }

  test("MineCLI end-to-end: TSV in, reference-format rule TSV out") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").toString
    val tsv = s"$dir/facts.tsv"
    val w = new java.io.PrintWriter(tsv)
    try Fixtures.extendedFacts.foreach(t => w.println(s"${t.subj}\t${t.pred}\t${t.obj}"))
    finally w.close()
    MineCLI.main(Array("-i", tsv, "-o", s"$dir/rules",
      "-mins", "2", "-minhc", "0.1", "-minpca", "0.1"))
    val out = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$dir/rules")
    assert(out.columns.toSeq == RuleSink.Columns)
    assert(out.count() > 0)
    // the planted worksAt ∧ isLocatedIn ⇒ livesIn chain is found
    assert(out.collect().exists(_.getString(0).contains("=> ?x  livesIn  ?y")))
  }
}
