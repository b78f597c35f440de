package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchMathSpec extends AnyFunSuite {

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(BenchMath.percentile(xs, 50) == 5.0)
    assert(BenchMath.percentile(xs, 90) == 9.0)
    assert(BenchMath.percentile(xs, 100) == 10.0)
    assert(BenchMath.percentile(Seq(3.0), 99.9) == 3.0)
    assert(BenchMath.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(BenchMath.median(Seq(2.0, 1.0)) == 1.0)
    intercept[IllegalArgumentException](BenchMath.percentile(Nil, 50))
  }

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(BenchMath.tailPercentile(19).isEmpty)
    assert(BenchMath.tailPercentile(20).contains(50.0))
    assert(BenchMath.tailPercentile(39).contains(50.0))
    assert(BenchMath.tailPercentile(40).contains(75.0))
    assert(BenchMath.tailPercentile(99).contains(75.0))
    assert(BenchMath.tailPercentile(100).contains(90.0))
    assert(BenchMath.tailPercentile(200).contains(95.0))
    assert(BenchMath.tailPercentile(1000).contains(99.0))
    assert(BenchMath.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 2000; p <- BenchMath.tailPercentile(n))
      assert(BenchMath.samplesBeyond(n, p) >= 10, s"n=$n p=$p")
  }

  test("samples beyond a percentile match a direct count") {
    for (n <- 1 to 300; p <- BenchMath.PercentileGrid) {
      val xs = (1 to n).map(_.toDouble)
      val v  = BenchMath.percentile(xs, p)
      assert(BenchMath.samplesBeyond(n, p) == xs.count(_ > v), s"n=$n p=$p")
    }
  }

  test("self time subtracts the part of a span its children cover") {
    // root [0,100): children [10,30) and [20,50) overlap, [90,120) spills
    // past the root's end; grandchild [12,18) belongs to child 1 only
    val spans = Seq(
      (0, -1, 0L, 100L),
      (1, 0, 10L, 30L),
      (2, 0, 20L, 50L),
      (3, 0, 90L, 120L),
      (4, 1, 12L, 18L))
    val self = BenchMath.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 6)
  }

  test("self times of a sequential nest add up to the root's duration") {
    val spans = Seq((0, -1, 0L, 60L), (1, 0, 5L, 25L), (2, 0, 30L, 55L),
      (3, 2, 31L, 40L), (4, 2, 41L, 50L))
    assert(BenchMath.selfTimes(spans).values.sum == 60L)
  }

  test("interval helpers") {
    assert(BenchMath.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(BenchMath.clip(Seq((0L, 10L), (40L, 50L)), 5L, 45L) == Seq((5L, 10L), (40L, 45L)))
    assert(BenchMath.subtract((0L, 100L), Seq((10L, 20L), (15L, 30L), (90L, 200L))) ==
      Seq((0L, 10L), (30L, 90L)))
    assert(BenchMath.subtract((0L, 10L), Nil) == Seq((0L, 10L)))
  }

  test("failure ratio counts failed ops against attempted ones") {
    assert(BenchMath.failureRatio(10, 0) == 0.0)
    assert(BenchMath.failureRatio(8, 2) == 0.25)
    assert(BenchMath.failureRatio(0, 0) == 0.0)
    intercept[IllegalArgumentException](BenchMath.failureRatio(1, 2))
    intercept[IllegalArgumentException](BenchMath.failureRatio(-1, 0))
  }
}
