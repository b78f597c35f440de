package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it is unit-tested
  * on its own: percentiles, the tail-percentile rule, span self times and
  * the failure ratio. */
object BenchMath {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 100.0, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank   = math.ceil(p / 100.0 * sorted.size - 1e-9).toInt
    sorted(math.max(rank, 1) - 1)
  }

  /** Number of samples strictly beyond the nearest-rank `p`-th percentile. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.max(math.ceil(p / 100.0 * n - 1e-9).toInt, 1)

  val PercentileGrid: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[PercentileGrid]] that has at least
    * `minBeyond` samples beyond it — the tail a run of `n` samples can
    * actually support. None when not even the median qualifies. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    PercentileGrid.filter(p => samplesBeyond(n, p) >= minBeyond).lastOption

  /** Failed share of attempted operations. */
  def failureRatio(attempted: Long, failed: Long): Double = {
    require(attempted >= 0 && failed >= 0 && failed <= attempted,
      s"bad counts: $failed failed of $attempted")
    if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS  = Long.MinValue
    var curE  = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to `[lo, hi)`, empty ones dropped. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter(i => i._2 > i._1)

  /** `a` minus the union of `bs`, as disjoint intervals. */
  def subtract(a: (Long, Long), bs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var cur = a._1
    for ((s, e) <- clip(bs, a._1, a._2).sortBy(_._1)) {
      if (s > cur) out += ((cur, s))
      cur = math.max(cur, e)
    }
    if (a._2 > cur) out += ((cur, a._2))
    out.toSeq
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. Spans are (id, parent, start, end);
    * parent -1 marks a root. */
  def selfTimes(spans: Seq[(Int, Int, Long, Long)]): Map[Int, Long] = {
    val children = spans.groupBy(_._2)
    spans.map { case (id, _, s, e) =>
      val kids = children.getOrElse(id, Nil).map(k => (k._3, k._4))
      id -> ((e - s) - unionLength(clip(kids, s, e)))
    }.toMap
  }
}
