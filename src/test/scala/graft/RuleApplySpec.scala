package graft

import graft.kb._
import graft.mine._
import org.scalatest.funsuite.AnyFunSuite

/** Rule application + filtered-ranking link prediction — the Spark form
  * of the reference's inference/linkprediction.py evaluation (PyClause
  * RankingHandler: maxplus aggregation, filtered head/tail ranks,
  * MRR / hits@k). Every expected value is hand-computed. */
class RuleApplySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions.col

  private def kb(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toDF("subj", "pred", "obj")
  }
  private val livesRule =
    RuleParser.parseRule("?x worksAt ?t ?t locatedIn ?c => ?x livesIn ?c")

  /** Three predictions on the tail key (q, r) and the test triple
    * (q, r, t) twice; the test set doubles as the known facts. */
  private def dupFixture = {
    import spark.implicits._
    (Seq(("q", "r", "a", 0.9), ("q", "r", "t", 0.5), ("q", "r", "b", 0.5))
      .toDF("subj", "pred", "obj", "conf"),
     Seq(("q", "r", "t"), ("q", "r", "t")).toDF("subj", "pred", "obj"))
  }

  test("applyRule: distinct head bindings of the body, witness vars deduped") {
    val facts = kb(
      ("ada", "worksAt", "acme"), ("bob", "worksAt", "acme"),
      ("ada", "worksAt", "duke"), // second employer in the SAME city
      ("acme", "locatedIn", "paris"), ("duke", "locatedIn", "paris"),
      ("cyd", "worksAt", "zorg"), ("zorg", "locatedIn", "tokyo"))
    val got = RuleApply.applyRule(facts, livesRule).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // ada reachable via two employers → ONE prediction (distinct)
    assert(got == Set(
      ("ada", "livesIn", "paris"), ("bob", "livesIn", "paris"),
      ("cyd", "livesIn", "tokyo")))
  }

  test("applyRule: head constants project as literals; unbound head var rejected") {
    val facts = kb(("ada", "worksAt", "acme"), ("acme", "locatedIn", "paris"))
    val const = RuleParser.parseRule("?x worksAt ?t => ?x type employee")
    assert(RuleApply.applyRule(facts, const).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("ada", "type", "employee")))
    val open = RuleParser.parseRule("?x worksAt ?t => ?x livesIn ?c")
    val e = intercept[IllegalArgumentException](RuleApply.applyRule(facts, open))
    assert(e.getMessage.contains("not bound"))
  }

  test("scoredPredictions: maxplus vector, descending; max/newPredictions") {
    val facts = kb(
      ("ada", "worksAt", "acme"), ("acme", "locatedIn", "paris"),
      ("ada", "bornIn", "paris"),
      ("bob", "bornIn", "tokyo"),
      ("ada", "livesIn", "paris")) // already a fact → not NEW
    val rules = Seq(
      livesRule -> 0.9,
      RuleParser.parseRule("?x bornIn ?c => ?x livesIn ?c") -> 0.4)
    val scored = RuleApply.scoredPredictions(facts, rules).collect()
      .map(r => (r.getString(0), r.getString(2), r.getSeq[Double](3))).toSet
    // ada predicted by BOTH rules → [0.9, 0.4]; bob by one → [0.4]
    assert(scored == Set(
      ("ada", "paris", Seq(0.9, 0.4)), ("bob", "tokyo", Seq(0.4))))
    val mx = RuleApply.predictions(facts, rules).collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(mx == Map("ada" -> 0.9, "bob" -> 0.4))
    // KG completion: ada's livesIn is already known → only bob's is new
    val nw = RuleApply.newPredictions(facts, rules).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(nw == Set(("bob", "tokyo")))
  }

  test("filteredRanks: known-fact filtering, score order, tie-break, unranked (hand-computed)") {
    import spark.implicits._
    // Tail query (q, r, ?): candidates a(0.9), b(0.5), t(0.5), c(0.5), k(0.7)
    //   where k is a KNOWN fact → filtered out of the competition.
    //   Target t(0.5): better = a(0.9>0.5), b(0.5 tie, 'b' < 't') → rank 3.
    //   c(0.5 tie, 'c' < 't') also better → rank 4. Recount: a, b, c → rank 4.
    val preds = Seq(
      ("q", "r", "a", 0.9), ("q", "r", "b", 0.5), ("q", "r", "t", 0.5),
      ("q", "r", "c", 0.5), ("q", "r", "k", 0.7),
      ("z", "r", "x", 0.8)).toDF("subj", "pred", "obj", "conf")
    val test  = Seq(("q", "r", "t"), ("q", "r", "u")).toDF("subj", "pred", "obj")
    val known = Seq(("q", "r", "k"), ("q", "r", "t"), ("q", "r", "u"))
      .toDF("subj", "pred", "obj")
    val ranks = RuleApply.filteredRanks(preds, test, known, tail = true)
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(ranks("t") == Some(4L)) // a, b, c better; k filtered; itself excluded
    assert(ranks("u") == None)     // never predicted → unranked
  }

  test("filteredRanks: head direction ranks subjects per (pred, obj)") {
    import spark.implicits._
    val preds = Seq(
      ("a", "r", "o", 0.9), ("t", "r", "o", 0.5), ("b", "r", "o", 0.5))
      .toDF("subj", "pred", "obj", "conf")
    val test  = Seq(("t", "r", "o")).toDF("subj", "pred", "obj")
    val known = Seq(("t", "r", "o")).toDF("subj", "pred", "obj")
    val ranks = RuleApply.filteredRanks(preds, test, known, tail = false)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ranks("t") == 3L) // a (higher), b (tie, 'b' < 't')
  }

  test("maxplus vectors rank above shorter prefix-equal vectors") {
    import spark.implicits._
    // target 'one' max-ties the false candidate 'zzz' at 0.9, but 'zzz'
    // is backed by a second rule: [0.9, 0.4] > [0.9] lexicographically,
    // so only the VECTOR comparison can outrank the target here (the
    // entity tie-break alone would not — 'zzz' > 'one') → rank 2
    val preds = Seq(
      ("q", "r", "one", Seq(0.9)), ("q", "r", "zzz", Seq(0.9, 0.4)))
      .toDF("subj", "pred", "obj", "conf")
    val test  = Seq(("q", "r", "one")).toDF("subj", "pred", "obj")
    val known = test
    val ranks = RuleApply.filteredRanks(preds, test, known, tail = true)
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(ranks == Map("one" -> 2L))
  }

  test("evaluate: MRR and hits@k hand-computed, unranked in the denominator") {
    import spark.implicits._
    val preds = Seq(
      ("q1", "r", "t1", 0.9),                         // rank 1
      ("q2", "r", "t2", 0.5), ("q2", "r", "a", 0.9),
      ("q2", "r", "b", 0.8), ("q2", "r", "c", 0.7))   // rank 4
      .toDF("subj", "pred", "obj", "conf")
    val test = Seq(("q1", "r", "t1"), ("q2", "r", "t2"), ("q3", "r", "t3"))
      .toDF("subj", "pred", "obj") // q3 unpredicted → unranked
    val known = test
    val ev = RuleApply.evaluate(preds, test, known).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6))).toMap
    val (mrr, h1, h3, h10, ranked, total) = ev("tail")
    assert(total == 3 && ranked == 2)
    assert(math.abs(mrr - (1.0 + 0.25) / 3) < 1e-12)
    assert(math.abs(h1 - 1.0 / 3) < 1e-12)
    assert(math.abs(h3 - 1.0 / 3) < 1e-12)  // rank 4 misses hits@3
    assert(math.abs(h10 - 2.0 / 3) < 1e-12)
    // head direction exists and covers the same 3 test triples
    assert(ev("head")._6 == 3)
  }

  test("duplicated test rows: one output row per copy, each ranked as a single copy") {
    // tail query (q, r, ?): a (0.9) is better, b (0.5) ties with a smaller
    // id → rank 3 for each of the two copies of (q, r, t)
    val (preds, test) = dupFixture
    val ranks = RuleApply.filteredRanks(preds, test, test, tail = true)
      .collect().map(r => (r.getString(2), r.getLong(3))).toSeq
    assert(ranks == Seq(("t", 3L), ("t", 3L)))
    val tailEval = RuleApply.evaluate(preds, test, test).collect()
      .find(_.getString(0) == "tail").get
    assert(tailEval.getLong(5) == 2L && tailEval.getLong(6) == 2L)
    assert(math.abs(tailEval.getDouble(1) - 1.0 / 3) < 1e-12)
  }

  test("filteredRanks and evaluate equal a per-test-row brute force on random fixtures") {
    import spark.implicits._
    type Fact = (String, String, String)
    val confs = Seq(0.3, 0.6, 0.9)
    // ids mix ASCII with U+E000, U+FFFF and a non-BMP character, whose
    // UTF-8 byte order differs from UTF-16 order
    val ents  = (0 until 8).map(i => s"e$i") ++ Seq("\uE000", "\uFFFF", "\uD83D\uDE00")
    for (seed <- 0 until 3; maxplus <- Seq(false, true)) {
      val rng = new scala.util.Random(seed)
      def ent() = ents(rng.nextInt(ents.size))
      def score(): Seq[Double] =
        if (maxplus) Seq.fill(1 + rng.nextInt(3))(confs(rng.nextInt(confs.size))).sorted.reverse
        else Seq(confs(rng.nextInt(confs.size)))
      // a hub key per direction: 40 candidates, all tied at 0.6
      val hub = (0 until 40).map(i => f"h$i%02d")
      val preds: Map[Fact, Seq[Double]] =
        (0 until 70).map(_ => (ent(), s"r${rng.nextInt(2)}", ent()) -> score()).toMap ++
          hub.map(h => ("hub", "r0", h) -> Seq(0.6)) ++
          hub.map(h => (h, "r1", "hub") -> Seq(0.6))
      val predicted  = rng.shuffle(preds.keys.toSeq.sorted)
      val unpredicted = Seq.fill(6)((ent(), "r1", ent())).filterNot(preds.contains)
      val tested = predicted.take(14) ++ unpredicted ++
        Seq(("hub", "r0", "h20"), ("h31", "r1", "hub"))
      val test   = tested ++ tested.take(3) // duplicated test rows
      // known-filtered candidates: more predictions, hub ones included.
      // The first three test triples are left out of `known`: each then
      // competes for the other targets on its key, never with itself.
      val known  = tested.drop(3).toSet ++ predicted.slice(14, 30) ++
        Seq(("hub", "r0", "h03"), ("h07", "r1", "hub"))
      val predsDf =
        if (maxplus) preds.toSeq.map { case ((s, p, o), c) => (s, p, o, c) }
          .toDF("subj", "pred", "obj", "conf")
        else preds.toSeq.map { case ((s, p, o), c) => (s, p, o, c.head) }
          .toDF("subj", "pred", "obj", "conf")
      val testDf  = test.toDF("subj", "pred", "obj")
      val knownDf = known.toSeq.toDF("subj", "pred", "obj")
      val ctx   = s"seed $seed, maxplus $maxplus"
      val evals = RuleApply.evaluate(predsDf, testDf, knownDf).collect()
      for ((dir, tail) <- Seq("head" -> false, "tail" -> true)) {
        val want = BruteForce.filteredRanks(preds, test, known, tail)
        val got  = RuleApply.filteredRanks(predsDf, testDf, knownDf, tail).collect()
          .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
            Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
        assert(got.sortBy(_.toString) == test.zip(want).sortBy(_.toString), s"$ctx, $dir")
        val ev = evals.find(_.getString(0) == dir).get
        val n = want.size.toDouble
        def hits(k: Int) = want.count(_.exists(_ <= k)) / n
        val expect = Seq(want.flatten.map(1.0 / _).sum / n, hits(1), hits(3), hits(10))
        assert(expect.zip(1 to 4).forall { case (e, i) => math.abs(ev.getDouble(i) - e) < 1e-12 },
          s"$ctx, $dir: $ev vs $expect")
        assert(ev.getLong(5) == want.count(_.isDefined) && ev.getLong(6) == want.size, s"$ctx, $dir")
      }
    }
  }

  test("job budget: evaluate collects in at most 10 Spark jobs") {
    val (preds, test) = dupFixture
    val (_, jobs) = JobCounter(spark)(RuleApply.evaluate(preds, test, test).collect())
    assert(jobs <= 10, s"$jobs jobs")
  }

  test("LinkPredictCLI: arg parsing, RuleSink TSV round-trip, end-to-end eval (linkprediction.py shape)") {
    import graft.tools.LinkPredictCLI
    val dir = java.nio.file.Files.createTempDirectory("graft-lp").toString
    def writeTsv(name: String, rows: Seq[(String, String, String)]): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name")
      rows.foreach { case (s, p, o) => w.println(s"$s\t$p\t$o") }
      w.close()
    }
    val people  = (0 until 12).map(i => f"p$i%02d")
    val works   = people.zipWithIndex.map { case (p, i) => (p, "worksAt", s"co${i % 4}") }
    val located = (0 until 4).map(i => (s"co$i", "locatedIn", s"ci${i % 2}"))
    val lives   = people.zipWithIndex.map { case (p, i) => (p, "livesIn", s"ci${i % 4 % 2}") }
    writeTsv("train.tsv", works ++ located ++ lives.drop(4))
    writeTsv("valid.tsv", lives.slice(3, 4))
    writeTsv("test.tsv", lives.take(3))
    // rules file = this engine's own mined-rule TSV format (RuleSink)
    RuleSink.writeTsv(spark, Seq(ScoredRule(livesRule,
      support = 8, headCoverage = 1.0, stdConfidence = 1.0,
      pcaConfidence = 1.0, bodySize = 8, pcaBodySize = 8,
      functionalVariable = "?x")), s"$dir/rules")
    val a = LinkPredictCLI.parse(Seq(dir, s"$dir/rules", "-agg", "max"))
    assert(a.trainPath == s"$dir/train.tsv" && a.cm == "pca")
    val rules = LinkPredictCLI.loadRules(spark, s"$dir/rules", "pca")
    assert(rules.size == 1 && rules.head._2 == 1.0 &&
      rules.head._1.canonical == livesRule.canonical)
    val ev = LinkPredictCLI.run(spark, a).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(5), r.getLong(6))).toMap
    // sound rule + every competitor filtered as a known fact → MRR 1.0
    // in both directions, all 3 test triples ranked
    assert(ev("tail") == ((1.0, 3L, 3L)))
    assert(ev("head") == ((1.0, 3L, 3L)))
    // plain-text rule lines load too (conf defaults to 1.0)
    writeTsv("plain.tsv", Seq.empty)
    val w = new java.io.PrintWriter(s"$dir/plain.txt")
    w.println("?x worksAt ?t ?t locatedIn ?c => ?x livesIn ?c\t0.75")
    w.close()
    val plain = LinkPredictCLI.loadRules(spark, s"$dir/plain.txt", "pca")
    assert(plain.head._2 == 0.75)
    // an empty valid.tsv is a split with no valid facts: lives(3) becomes
    // a head candidate for ci1, tied with the target p01 and ordered
    // after it, so every rank stays 1
    writeTsv("valid.tsv", Seq.empty)
    val noValid = LinkPredictCLI.run(spark, a).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(5), r.getLong(6))).toMap
    assert(noValid("tail") == ((1.0, 3L, 3L)) && noValid("head") == ((1.0, 3L, 3L)))
  }

  test("LinkPredictCLI: -train/-test overrides make the single positional the rules file (ADVICE r4)") {
    import graft.tools.LinkPredictCLI
    val a = LinkPredictCLI.parse(Seq(
      "/tmp/rules.tsv", "-train", "/tmp/tr.tsv", "-test", "/tmp/te.tsv"))
    assert(a.rulesFile == "/tmp/rules.tsv" && a.dataPath.isEmpty)
    assert(a.trainPath == "/tmp/tr.tsv" && a.testPath == "/tmp/te.tsv")
    // option order must not matter
    val b = LinkPredictCLI.parse(Seq(
      "-train", "/tmp/tr.tsv", "-test", "/tmp/te.tsv", "/tmp/rules.tsv"))
    assert(b.rulesFile == "/tmp/rules.tsv" && b.dataPath.isEmpty)
    // two positionals still bind (data_path, rules_file) in order
    val c = LinkPredictCLI.parse(Seq("/data", "/tmp/rules.tsv"))
    assert(c.dataPath == "/data" && c.rulesFile == "/tmp/rules.tsv")
  }

  test("LinkPredictCLI: loadRules survives per-part repeated headers in any position (ADVICE r4)") {
    import graft.tools.LinkPredictCLI
    val dir = java.nio.file.Files.createTempDirectory("graft-lp-hdr").toString
    // simulate a multi-part Spark CSV rules dir: two part files, each with
    // its own header, and partition order putting a DATA line first
    def part(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name")
      lines.foreach(w.println); w.close()
    }
    val header = "Rule\tStdConfidence\tPcaConfidence"
    new java.io.File(dir, "rulesdir").mkdir()
    part("rulesdir/part-00000",
      Seq(header, "?x worksAt ?t ?t locatedIn ?c => ?x livesIn ?c\t0.8\t0.9"))
    part("rulesdir/part-00001",
      Seq(header, "?x bornIn ?c => ?x livesIn ?c\t0.3\t0.4"))
    val rules = LinkPredictCLI.loadRules(spark, s"$dir/rulesdir", "pca")
    assert(rules.size == 2, s"stray headers must be dropped: $rules")
    assert(rules.map(_._2).toSet == Set(0.9, 0.4))
    val std = LinkPredictCLI.loadRules(spark, s"$dir/rulesdir", "std")
    assert(std.map(_._2).toSet == Set(0.8, 0.3))
  }

  test("LinkPredictCLI: -o dump derives from preds — maxplus dumps the max, only non-train rows (ADVICE r4)") {
    import graft.tools.LinkPredictCLI
    val dir = java.nio.file.Files.createTempDirectory("graft-lp-out").toString
    def writeTsv(name: String, rows: Seq[(String, String, String)]): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name")
      rows.foreach { case (s, p, o) => w.println(s"$s\t$p\t$o") }
      w.close()
    }
    // ada is predicted by BOTH rules (vector [0.9, 0.4]) and is NOT a
    // train fact; bob's prediction IS a train fact → excluded from -o
    writeTsv("train.tsv", Seq(
      ("ada", "worksAt", "acme"), ("acme", "locatedIn", "paris"),
      ("ada", "bornIn", "paris"),
      ("bob", "bornIn", "tokyo"), ("bob", "livesIn", "tokyo")))
    writeTsv("test.tsv", Seq(("ada", "livesIn", "paris")))
    val w = new java.io.PrintWriter(s"$dir/rules.txt")
    w.println("?x worksAt ?t ?t locatedIn ?c => ?x livesIn ?c\t0.9")
    w.println("?x bornIn ?c => ?x livesIn ?c\t0.4")
    w.close()
    val out = s"$dir/preds_out"
    LinkPredictCLI.run(spark, LinkPredictCLI.parse(Seq(
      s"$dir/rules.txt", "-train", s"$dir/train.tsv", "-test", s"$dir/test.tsv",
      "-valid", "", "-agg", "maxplus", "-o", out))).collect()
    val dumped = spark.read.option("sep", "\t").csv(out).collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3).toDouble)).toSet
    assert(dumped == Set(("ada", "paris", 0.9)),
      s"maxplus -o must dump the vector max for non-train predictions only: $dumped")
  }

  test("mine → apply → evaluate closes the loop: held-out facts recovered at rank 1") {
    import spark.implicits._
    // Planted sound rule livesIn(x,c) ⇐ worksAt(x,t) ∧ locatedIn(t,c):
    // 20 people, 5 companies, 3 cities; hold out 5 livesIn facts, mine on
    // the train KB, apply the mined rules with their PCA confidence.
    val people    = (0 until 20).map(i => f"p$i%02d")
    val company   = (i: Int) => s"co${i % 5}"
    val city      = (i: Int) => s"ci${i % 5 % 3}"
    val works     = people.zipWithIndex.map { case (p, i) => (p, "worksAt", company(i)) }
    val located   = (0 until 5).map(i => (s"co$i", "locatedIn", city(i)))
    val lives     = people.zipWithIndex.map { case (p, i) => (p, "livesIn", city(i)) }
    val (test, trainLives) = lives.splitAt(5)
    val trainKb = (works ++ located ++ trainLives).toDF("subj", "pred", "obj")
    val fullKb  = (works ++ located ++ lives).toDF("subj", "pred", "obj")
    val mined = new Miner(trainKb, MinerConfig(
      minSupport = 2, minHeadCoverage = 0.01, maxDepth = 3,
      minPcaConfidence = 0.1)).mine()
    val soundRules = mined.filter(_.rule.head.p == Const("livesIn"))
    assert(soundRules.nonEmpty, "miner must recover the planted rule")
    val preds = RuleApply.predictions(trainKb,
      soundRules.map(r => r.rule -> r.pcaConfidence))
    val testDf = test.toDF("subj", "pred", "obj")
    val ranks = RuleApply.filteredRanks(preds, testDf, fullKb, tail = true)
      .collect().map(_.getLong(3))
    assert(ranks.length == 5 && ranks.forall(_ == 1L),
      "every held-out livesIn fact must be recovered at rank 1")
  }
}
