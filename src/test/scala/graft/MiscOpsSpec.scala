package graft

import graft.kb._
import graft.mine._
import org.scalatest.funsuite.AnyFunSuite

/** Parser round-trips (ports of the reference's TestKBTripleParsing /
  * TestKBRuleParsing cases), taxonomy closure, rule-sink format, and
  * cardinality pseudo-relations. */
class MiscOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("triple-pattern parsing round-trips (TestKBTripleParsing cases)") {
    // Freebase-style ids, underscores, numbers (TestKBTripleParsing.java:20-46)
    assert(RuleParser.parseAtom("?s  <worksAt>  ?o") ==
      Atom(Var("s"), Const("<worksAt>"), Var("o")))
    assert(RuleParser.parseAtom("?a /m/0bwd_0j ?b") ==
      Atom(Var("a"), Const("/m/0bwd_0j"), Var("b")))
    assert(RuleParser.parseAtom("<Luis> wasBornIn <Guayaquil> .") ==
      Atom(Const("<Luis>"), Const("wasBornIn"), Const("<Guayaquil>")))
    assert(RuleParser.parseAtoms("?a r1 ?b ?b r2 ?c").size == 2)
  }

  test("rule parsing: both syntaxes (TestKBRuleParsing cases)") {
    val r1 = RuleParser.parseRule("?a worksAt ?t ?t isLocatedIn ?c => ?a livesIn ?c")
    assert(r1.head == Atom(Var("a"), Const("livesIn"), Var("c")))
    assert(r1.body.size == 2)
    val r2 = RuleParser.parseRule("?a livesIn ?c :- ?a worksAt ?t, ?t isLocatedIn ?c")
    assert(r2.canonical == r1.canonical)
  }

  test("taxonomy transitive closure on a 4-level chain + diamond") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),       // chain
      ("x", "y1"), ("x", "y2"), ("y1", "z"), ("y2", "z")) // diamond
      .toDF("child", "parent")
    val closure = Taxonomy.transitiveClosure(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(closure.contains(("a", "d")))
    assert(closure.contains(("a", "c")))
    assert(closure.contains(("x", "z")))
    assert(!closure.contains(("b", "a")))
    assert(closure.size == 3 + 2 + 1 + 4 + 1) // chain closure 6, diamond 5
  }

  test("rule sink: reference column order, deterministic rows") {
    val r = Rule(Atom(Var("x"), Const("livesIn"), Var("y")),
      List(Atom(Var("x"), Const("worksAt"), Var("t")),
        Atom(Var("t"), Const("isLocatedIn"), Var("y"))))
    val scored = ScoredRule(r, 3, 0.75, 1.0, 1.0, 3, 3, "?x",
      supportRatio = 0.25, stdConfUpperBound = 1.0)
    val df = RuleSink.toDF(spark, Seq(scored))
    // the full 12-column reference contract (OutputColumn.java:5-8)
    assert(df.columns.toSeq == RuleSink.Columns)
    assert(df.columns.length == 12)
    val row = df.collect()(0)
    assert(row.getString(0).endsWith("=> ?x  livesIn  ?y"))
    assert(row.getLong(4) == 3)
    assert(row.getDouble(5) == 0.25)  // SupportRatio
    assert(row.getDouble(9) == 1.0)   // StdConfUpperBound
    assert(row.getDouble(11) == 0.0)  // PcaConfEstimation default
  }

  test("cardinality pseudo-relation: keys by distinct-value count") {
    import spark.implicits._
    val t = Seq(
      ("a", "r", "1"), ("a", "r", "2"), ("a", "r", "2"),
      ("b", "r", "1"), ("c", "q", "1")).toDF("subj", "pred", "obj")
    val eq2 = Ops.entitiesByValueCount(t, "r", inverse = false, "=", 2)
      .collect().map(_.getString(0)).toSet
    assert(eq2 == Set("a"))
    val inv = Ops.entitiesByValueCount(t, "r", inverse = true, ">", 1)
      .collect().map(_.getString(0)).toSet
    assert(inv == Set("1")) // object "1" has subjects {a, b}
  }

  test("classIntersections: cap off is exact; cap bounds a hot entity deterministically") {
    import spark.implicits._
    val types = (Seq(("e1", "A"), ("e1", "B"), ("e2", "A"), ("e2", "C")) ++
      (1 to 50).map(i => ("hot", f"cls$i%03d"))).toDF("entity", "cls")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = m(Ops.classIntersections(types))
    assert(exact(("A", "B")) == 1 && exact(("A", "A")) == 2 && exact(("A", "C")) == 1)
    assert(exact.size == 7 + 50 * 50) // e1/e2 distinct class pairs + hot 50x50
    // cap 0 (default) is the uncapped join; a cap above every entity's
    // class count changes nothing
    assert(m(Ops.classIntersections(types, maxClassesPerEntity = 60)) == exact)
    // cap 10 keeps hot's lexicographically first 10 classes -> 10x10 block
    val capped = m(Ops.classIntersections(types, maxClassesPerEntity = 10))
    assert(capped.size == 7 + 10 * 10)
    assert(capped(("cls001", "cls010")) == 1 && !capped.contains(("cls001", "cls011")))
    assert(capped(("A", "B")) == 1) // non-overflowing entities unaffected
  }

  test("TSV fact source round-trips both reference layouts") {
    import graft.sources.TsvFacts
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv")
    val f3 = dir.resolve("facts3.tsv")
    java.nio.file.Files.writeString(f3,
      "Luis\twasBornIn\tGuayaquil .\nTelecom\tisLocatedIn\tParis\n")
    val t3 = TsvFacts.load(spark, f3.toString)
    assert(t3.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("Luis", "wasBornIn", "Guayaquil"), ("Telecom", "isLocatedIn", "Paris")))

    val f4 = dir.resolve("facts4.tsv")
    java.nio.file.Files.writeString(f4, "1\tLuis\tlivesIn\tParis\n")
    assert(TsvFacts.load(spark, f4.toString).collect()(0).getString(2) == "Paris")

    val out = dir.resolve("dump").toString
    TsvFacts.dump(t3, out)
    assert(TsvFacts.load(spark, out).count() == 2)

    // an empty file is a fact file with no facts
    val empty = TsvFacts.load(spark, java.nio.file.Files.createFile(dir.resolve("empty.tsv")).toString)
    assert(empty.schema == t3.schema && empty.collect().isEmpty)
  }

  test("datalog and AnyBURL rule formats match reference rendering") {
    val r = Rule(Atom(Var("a"), Const("<livesIn>"), Var("b")),
      List(Atom(Var("a"), Const("worksAt"), Var("c")),
        Atom(Var("c"), Const("isLocatedIn"), Var("b"))))
    assert(r.datalogString == "livesIn(?a,?b) <= worksAt(?a,?c), isLocatedIn(?c,?b)")
    assert(r.anyBurlString == "livesIn(X,Y) <= worksAt(X,A), isLocatedIn(A,Y)")
    val burl = RuleSink.toAnyBurlDF(spark, Seq(ScoredRule(r, 3, 0.75, 1.0, 1.0, 3, 3, "?a")))
    assert(burl.columns.toSeq == Seq("PcaBodySize", "Support", "PcaConfidence", "Rule"))

    // prefix-named variables must rename as whole tokens (?z1 vs ?z10)
    val tricky = Rule(Atom(Var("z1"), Const("h"), Var("z10")),
      List(Atom(Var("z1"), Const("p"), Var("z11")),
        Atom(Var("z11"), Const("q"), Var("z10"))))
    assert(tricky.anyBurlString == "h(X,Y) <= p(X,A), q(A,Y)")
  }

  test("reverse-datalog and NoStd rule formats match reference rendering") {
    // body-first, sortBody (pred, obj, subj) order, differentFrom as !=
    // (Rule.getReverseDatalogRuleString, Rule.java:1238-1266)
    val r = Rule(Atom(Var("a"), Const("livesIn"), Var("b")),
      List(Atom(Var("a"), Const("worksAt"), Var("c")),
        Atom(Var("c"), Const("isLocatedIn"), Var("b")),
        Atom(Var("a"), Const(Atom.DifferentFrom), Var("c"))))
    assert(r.reverseDatalogString ==
      "?a!=?c isLocatedIn(?c,?b) worksAt(?a,?c)  => livesIn(?a,?b)")

    val scored = Seq(ScoredRule(r, 3, 0.75, 1.0, 1.0, 3, 3, "?a"))
    val rev = RuleSink.toReverseDatalogDF(spark, scored)
    assert(rev.columns.toSeq == RuleSink.Columns)
    assert(rev.collect()(0).getString(0) == r.reverseDatalogString)

    // NoStdDefaultRuleFormatter.java:17-41: omitted families drop their
    // body-size companion column too
    assert(RuleSink.toNoStdDF(spark, scored, omitStd = false, omitPca = true)
      .columns.toSeq == RuleSink.Columns.diff(Seq("PcaBodySize", "PcaConfidence")))
    assert(RuleSink.toNoStdDF(spark, scored, omitStd = true, omitPca = false)
      .columns.toSeq == RuleSink.Columns.diff(Seq("BodySize", "StdConfidence")))
    assert(RuleSink.toNoStdDF(spark, scored, omitStd = false, omitPca = false)
      .columns.toSeq == RuleSink.Columns)
  }

  test("QueryCLI: ad-hoc select-distinct with pseudo- and meta-atoms (QueryKB.java:10-34)") {
    import graft.tools.QueryCLI
    val kb = Fixtures.baseKB(spark)

    // one variable (reference's selectDistinct(var, atoms) branch)
    val (v1, a1) = QueryCLI.parseQuery("?x | ?x livesIn Paris")
    assert(QueryCLI.run(kb, v1, a1).collect().map(_.getString(0)).toSet ==
      Set("Oana", "Luis", "Thomas", "Antoine"))

    // two variables across a join, plus an inline differentFrom guard
    val (v2, a2) = QueryCLI.parseQuery(
      "?x,?y | ?x worksAt ?z  ?z isLocatedIn ?y  ?x differentFrom ?z")
    val pairs = QueryCLI.run(kb, v2, a2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set("Luis" -> "Paris", "Thomas" -> "Paris", "Antoine" -> "Paris"))

    // inline meta-atoms: livesIn-ers with ≥1 worksAt value (drops Oana);
    // >1 distinct values drops everyone in the base KB
    val (v3, a3) = QueryCLI.parseQuery(
      "?x | ?x livesIn ?c  ?x hasNumberOfValuesGreaterThan0 worksAt")
    assert(QueryCLI.run(kb, v3, a3).collect().map(_.getString(0)).toSet ==
      Set("Luis", "Thomas", "Antoine"))
    val (v4, a4) = QueryCLI.parseQuery(
      "?x | ?x livesIn ?c  ?x hasNumberOfValuesGreaterThan1 worksAt")
    assert(QueryCLI.run(kb, v4, a4).isEmpty)

    // flag surface + projection validation
    val args = QueryCLI.parse(Seq("?x | ?x r ?y", "-i", "/f.tsv", "-show", "5", "-o", "/out"))
    assert(args.query == "?x | ?x r ?y" && args.input == "/f.tsv" &&
      args.show == 5 && args.output == "/out")
    intercept[IllegalArgumentException](QueryCLI.parseQuery("?nope | ?x r ?y"))
  }

  test("type-I confidence upper bounds match hand-computed values") {
    import graft.kb.{Fixtures, KGStats}
    val kb = Fixtures.baseKB(spark).cache()
    val m  = new Metrics(kb, KGStats.compute(kb))
    // hard shape: same relation sharing the object position
    val hard = Rule(Atom(Var("x"), Const("livesIn"), Var("y")),
      List(Atom(Var("x"), Const("wasBornIn"), Var("z")),
        Atom(Var("y"), Const("wasBornIn"), Var("z"))))
    assert(m.hardTypeI(hard).exists(_._3 == true))
    // std bound: support / #distinct subjects of wasBornIn (= 3)
    assert(m.stdConfidenceUpperBound(hard, 2) == Some(2.0 / 3))
    // different relations → not a hard shape, bounds not applicable
    val easy = Rule(Atom(Var("x"), Const("livesIn"), Var("c")),
      List(Atom(Var("x"), Const("worksAt"), Var("t")),
        Atom(Var("t"), Const("isLocatedIn"), Var("c"))))
    assert(m.hardTypeI(easy).isEmpty)
    assert(m.stdConfidenceUpperBound(easy, 2).isEmpty)
  }

  test("functionality-heuristic PCA approximation matches hand computation") {
    import graft.kb.{Fixtures, KGStats}
    val kb = Fixtures.baseKB(spark).cache()
    val m  = new Metrics(kb, KGStats.compute(kb))
    val r = Rule(Atom(Var("x"), Const("livesIn"), Var("c")),
      List(Atom(Var("x"), Const("worksAt"), Var("t")),
        Atom(Var("t"), Const("isLocatedIn"), Var("c"))))
    // shared var t: position 2 in worksAt, 0 in isLocatedIn
    assert(m.hardTypeIII(r).exists { case (_, _, pInT2, pInT1) => pInT2 == 0 && pInT1 == 2 })
    // hand-computed on the 12-fact KB (see scaladoc derivation):
    // funcInput(worksAt@subj)=1, funcOutput=ifuncOutput(isLocatedIn)=1,
    // nentities(worksAt objects)=2, overlapBody(isLocatedIn.subj ∩
    // worksAt.obj)=1, overlapHead(worksAt.subj ∩ livesIn.subj)=3
    // → ratio = 3 * (1/1)*(1/2) * 1 = 1.5; estimate = support/ratio = 2.0
    assert(m.pcaApproximation3(r, support = 3) == Some(2.0))
  }

  test("single-path PCA approximation (>3 atoms) matches hand computation") {
    import spark.implicits._
    import graft.kb.KGStats
    val kb = Seq(
      ("a1", "r1", "b1"), ("a2", "r1", "b2"),
      ("b1", "r2", "c1"), ("b2", "r2", "c2"),
      ("c1", "r3", "d1"),
      ("a1", "h", "d1")).toDF("subj", "pred", "obj").cache()
    val m = new Metrics(kb, KGStats.compute(kb))
    val r = Rule(Atom(Var("x"), Const("h"), Var("w")),
      List(Atom(Var("x"), Const("r1"), Var("y")),
        Atom(Var("y"), Const("r2"), Var("z")),
        Atom(Var("z"), Const("r3"), Var("w"))))
    assert(m.containsSinglePath(r))
    assert(m.canonicalPath(r).map(_.p) ==
      List(Const("r1"), Const("r2"), Const("r3")))
    // hand computation: term0 = ss(r1,h)/fun(r1) = 1/1; hop r2:
    // (so(r2,r1)*ifun(r2)) / (|r1.obj|*fun(r2)) = 2/2 = 1; hop r3:
    // (so(r3,r2)*1)/(|r2.obj|*1) = 1/2 → denominator 0.5 → estimate 2.0
    assert(m.pcaApproximationPath(r, support = 1) == Some(2.0))
    // a non-chain rule (branching variable) is not applicable
    val branch = Rule(Atom(Var("x"), Const("h"), Var("w")),
      List(Atom(Var("x"), Const("r1"), Var("y")),
        Atom(Var("x"), Const("r2"), Var("z")),
        Atom(Var("z"), Const("r3"), Var("w"))))
    assert(!m.containsSinglePath(branch))
  }

  test("rewriteProjectionQuery parity: type-I dup-relation atom dropped, counts unchanged (DMA:538-586)") {
    import spark.implicits._
    // r(a, c) ∧ r(b, c): counting distinct (b, c), 'a' is existential and
    // appears nowhere else — the r(a, c) atom is implied by r(b, c)
    val kb = Seq(
      ("s1", "r", "o1"), ("s2", "r", "o1"), ("s3", "r", "o2"),
      ("s1", "q", "o2"), ("s4", "q", "o1")).toDF("subj", "pred", "obj")
    val atoms = Seq(
      Atom(Var("a"), Const("r"), Var("c")),
      Atom(Var("b"), Const("r"), Var("c")),
      Atom(Var("b"), Const("q"), Var("d")))
    val proj = Set("b", "c")
    val rewritten = QueryBuilder.dropRedundantDupAtoms(atoms, proj)
    assert(rewritten == atoms.tail, "the dup-relation atom with the free variable is dropped")
    // counts agree (countDistinctBindings applies the rewrite internally;
    // compare against the unrewritten plan computed directly)
    def cnt(as: Seq[Atom]): Long =
      QueryBuilder.bindings(kb, as).select("b", "c").distinct().count()
    assert(cnt(atoms) == cnt(rewritten))
    assert(QueryBuilder.countDistinctBindings(kb, Seq(Var("b"), Var("c")), atoms) == cnt(atoms))
    // the rewritten plan has one fewer join
    def joins(as: Seq[Atom]): Int =
      QueryBuilder.bindings(kb, as).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    assert(joins(rewritten) == joins(atoms) - 1)
    // NOT dropped when the differing variable is projected…
    assert(QueryBuilder.dropRedundantDupAtoms(atoms, Set("a", "b", "c")) == atoms)
    // …or appears in another atom (a pseudo-atom counts as an occurrence)
    val guarded = atoms :+ Atom(Var("a"), Const(Atom.DifferentFrom), Var("b"))
    assert(QueryBuilder.dropRedundantDupAtoms(guarded, proj) == guarded)
    // fixpoint: two independent dup shapes both collapse
    val twoShapes = atoms ++ Seq(
      Atom(Var("e"), Const("q"), Var("d"))) // q(b,d) ∧ q(e,d), e free
    assert(QueryBuilder.dropRedundantDupAtoms(twoShapes, proj) == atoms.tail)
  }
}
