package graft

import graft.kb._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * The KB query operators of [[Ops]] and [[KGStats.overlaps]] against an
 * oracle written with plain Scala collections on the driver. The fixture
 * is a seeded customer/nation/region/supplier/order KB: `custRegion` is
 * the composition of `custNation` and `nationRegion` with some facts
 * dropped and some wrong ones added, so a projection count that ignored
 * the head atom would disagree; some customers have two nations and one
 * nation two regions, so counting rows instead of distinct values would
 * disagree too; customers c50..c59 place no order; and two relations tie
 * on size. Each oracle restates the operator's
 * reference semantics (the KB.java method named in its doc) over the
 * fact set and shares no code with the operator.
 */
class OpsOracleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val kb: Set[(String, String, String)] = {
    val rng = new scala.util.Random(2024)
    val nations  = (0 until 8).map(j => s"n$j")
    val regionOf = nations.map(n => n -> s"r${rng.nextInt(3)}").toMap
    def otherRegion(re: String) = s"r${(re.drop(1).toInt + 1) % 3}"
    // n0 lies in two regions, and every 13th customer has a second nation
    val nationRegion = nations.map(n => (n, regionOf(n))) :+ ("n0" -> otherRegion(regionOf("n0")))
    val custNat = (0 until 60).flatMap { i =>
      val first = rng.nextInt(nations.size)
      val more  = if (i % 13 == 3) Seq((first + 3) % nations.size) else Nil
      (first +: more).map(j => (s"c$i", nations(j), i))
    }
    val custRegion = for {
      (c, n, i) <- custNat if i % 7 != 0
      (n2, re)  <- nationRegion if n2 == n
    } yield (c, re)
    val wrongRegion = custNat.collect { case (c, n, i) if i % 11 == 5 => (c, otherRegion(regionOf(n))) }
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
    val orders = (0 until 150).map(m => (s"o$m", s"c${rng.nextInt(50)}",
      priorities(rng.nextInt(priorities.size))))
    custNat.map { case (c, n, _) => (c, "custNation", n) }.toSet ++
      nationRegion.map { case (n, re) => (n, "nationRegion", re) } ++
      (custRegion ++ wrongRegion).map { case (c, re) => (c, "custRegion", re) } ++
      (0 until 15).map(k => (s"s$k", "suppNation", nations(rng.nextInt(nations.size)))) ++
      orders.map { case (o, c, _) => (o, "orderCust", c) } ++
      orders.map { case (o, _, pr) => (o, "orderPriority", pr) }
  }

  private lazy val df: DataFrame = {
    import spark.implicits._
    kb.toSeq.map(t => Triple(t._1, t._2, t._3)).toDF("subj", "pred", "obj").cache()
  }

  private def facts(p: String): Set[(String, String)] =
    kb.collect { case (s, `p`, o) => (s, o) }

  private def pairs(out: DataFrame): Set[(String, Long)] =
    out.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def strings(out: DataFrame): Set[String] =
    out.collect().map(_.getString(0)).toSet

  private val c = Var("c"); private val n = Var("n"); private val r = Var("r")
  private val o = Var("o"); private val s = Var("s"); private val x = Var("x")
  private def atom(a: Term, p: String, b: Term) = Atom(a, Const(p), b)
  private val custNat  = atom(c, "custNation", n)
  private val natReg   = atom(n, "nationRegion", r)
  private val custReg  = atom(c, "custRegion", r)
  private val ordCust  = atom(o, "orderCust", c)
  private val urgent   = atom(o, "orderPriority", Const("1-URGENT"))
  private val noNation = atom(x, "custNation", Const("n999"))

  private val customers = facts("custNation").map(_._1)
  private val urgentCustomers = {
    val urgentOrders = facts("orderPriority").collect { case (ord, "1-URGENT") => ord }
    facts("orderCust").collect { case (ord, cu) if urgentOrders(ord) => cu }
  }

  test("fixture covers both sides of every operator") {
    assert(urgentCustomers.nonEmpty && (customers -- urgentCustomers).nonEmpty)
    assert((customers -- facts("orderCust").map(_._2)).nonEmpty)
    assert(facts("custNation").groupBy(_._1).exists(_._2.size > 1))
    assert(facts("nationRegion").groupBy(_._1).exists(_._2.size > 1))
    assert(facts("custRegion").size != facts("custNation").size)
    assert(facts("orderCust").size == facts("orderPriority").size)
  }

  test("countBindings: assignments per value, one atom and a fan-out join (KB.countBindings)") {
    val perNation = facts("custNation").groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    assert(pairs(Ops.countBindings(df, n, Seq(custNat))) == perNation.toSet)
    // two atoms sharing n: every (customer, supplier) pair of a nation is an assignment
    val suppliers = facts("suppNation").groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val want = perNation.collect { case (k, cs) if suppliers.contains(k) => k -> cs * suppliers(k) }
    assert(pairs(Ops.countBindings(df, n, Seq(custNat, atom(s, "suppNation", n)))) == want.toSet)
  }

  test("frequentBindingsOf and countProjectionBindings (KB.frequentBindingsOf / countProjectionBindings)") {
    val chain = for {
      (cu, na) <- facts("custNation"); (na2, re) <- facts("nationRegion") if na == na2
    } yield (cu, na, re)
    val perRegion = chain.groupBy(_._3).map { case (re, t) => re -> t.map(_._1).size.toLong }
    assert(pairs(Ops.frequentBindingsOf(df, r, c, Seq(custNat, natReg))) == perRegion.toSet)

    val head = facts("custRegion")
    val perNation = chain.filter(t => head((t._1, t._3)))
      .groupBy(_._2).map { case (na, t) => na -> t.map(u => (u._1, u._3)).size.toLong }
    assert(pairs(Ops.countProjectionBindings(df, custReg, Seq(custNat, natReg), n)) ==
      perNation.toSet)
  }

  test("difference, exists and not-exists selections (KB.difference / exists meta-relation)") {
    val ordering = facts("orderCust").map(_._2)
    assert(strings(Ops.difference(df, Seq(c), Seq(ordCust),
      Seq(atom(Var("o2"), "orderCust", c), atom(Var("o2"), "orderPriority", Const("1-URGENT"))))) ==
      ordering -- urgentCustomers)
    // no variable shared with the head: the head is an existence gate
    assert(strings(Ops.difference(df, Seq(c), Seq(custNat), Seq(noNation))) == customers)
    assert(strings(Ops.difference(df, Seq(c), Seq(custNat), Seq(natReg.copy(s = x)))).isEmpty)

    assert(strings(Ops.selectWhereExists(df, Seq(c), Seq(custNat), Seq(ordCust, urgent))) ==
      customers.intersect(urgentCustomers))
    assert(strings(Ops.selectWhereNotExists(df, Seq(c), Seq(custNat), Seq(ordCust, urgent))) ==
      customers -- urgentCustomers)
  }

  test("existsQuery and containsFact, satisfied and not (KB.existsBS1 / contains)") {
    assert(Ops.existsQuery(df, Seq(custNat, natReg)))
    assert(!Ops.existsQuery(df, Seq(noNation)))
    val (na, re) = facts("nationRegion").head
    assert(Ops.containsFact(df, na, "nationRegion", re))
    assert(!Ops.containsFact(df, na, "nationRegion", "r999"))
    assert(!Ops.containsFact(df, re, "nationRegion", na))
  }

  test("cardinalityHistogram with cum_keys, both directions (KB cumulative cardinalities)") {
    def oracle(key: ((String, String)) => String, value: ((String, String)) => String) =
      kb.map(_._2).flatMap { p =>
        val perKey = facts(p).groupBy(key).values.map(_.map(value).size.toLong)
        val hist = perKey.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        hist.map { case (k, keys) =>
          (p, k, keys, hist.collect { case (k2, n2) if k2 >= k => n2 }.sum)
        }
      }
    def got(keyCol: String, valCol: String) =
      Ops.cardinalityHistogram(df, keyCol, valCol).select("pred", "n", "keys", "cum_keys")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got("obj", "subj") == oracle(_._2, _._1))
    assert(got("subj", "obj") == oracle(_._1, _._2))
  }

  test("varianceOfCounts: (S2 - S1²/k)/k per relation (KB.java:729-760)") {
    val want = kb.map(_._2).map { p =>
      val ns = facts(p).groupBy(_._2).values.map(_.map(_._1).size.toLong).toSeq
      val (s1, s2, k) = (ns.sum, ns.map(v => v * v).sum, ns.size.toLong)
      p -> (s2.toDouble - s1.toDouble * s1.toDouble / k.toDouble) / k.toDouble
    }
    val got = Ops.varianceOfCounts(df, "obj", "subj").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSet
    assert(got == want)
  }

  test("relationsBySize: size threshold, largest first, ties by name (U.decreasingKeys)") {
    val sizes = kb.toSeq.groupBy(_._2).map { case (p, f) => p -> f.size.toLong }
    val minSize = 20L
    val want = sizes.filter(_._2 >= minSize).toSeq.sortBy { case (p, sz) => (-sz, p) }
    assert(want.size < sizes.size, "threshold must drop a relation")
    val got = Ops.relationsBySize(df, minSize).collect()
      .map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(got == want)
  }

  test("countDistinctUpTo: exact below and at the cap, bound + 1 above it (KB.countDistinctPairsUpTo)") {
    val exact = (for {
      (cu, na) <- facts("custNation"); (na2, re) <- facts("nationRegion") if na == na2
    } yield (cu, re)).size.toLong
    def upTo(bound: Long) = Ops.countDistinctUpTo(df, bound, Seq(c, r), Seq(custNat, natReg))
    assert(upTo(1000L) == exact)
    assert(upTo(exact) == exact)
    assert(upTo(10L) == 11L)
    assert(upTo(Int.MaxValue.toLong) == exact)
  }

  test("KGStats.overlaps: subject/subject and subject/object entity overlaps (KB.buildOverlapTables)") {
    val subjects = kb.groupBy(_._2).map { case (p, f) => p -> f.map(_._1) }
    val objects  = kb.groupBy(_._2).map { case (p, f) => p -> f.map(_._3) }
    def oracle(a: Map[String, Set[String]], b: Map[String, Set[String]]) =
      (for ((p1, e1) <- a; (p2, e2) <- b; k = e1.intersect(e2).size if k > 0)
        yield (p1, p2, k.toLong)).toSet
    def got(pos1: String, pos2: String) =
      KGStats.overlaps(df, pos1, pos2).select("p1", "p2", "overlap").collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2))).toSet
    assert(got("subj", "subj") == oracle(subjects, subjects))
    val so = oracle(subjects, objects)
    assert(so.exists(t => t._1 != t._2), "no cross-relation subj/obj overlap in the fixture")
    assert(got("subj", "obj") == so)
  }
}
