package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

/**
 * What the vocabulary-sized stages (alias union-find, connected
 * components, entity-id ranks, the decode catalog of
 * `Pipeline.materialized`) share when they run on the driver instead
 * of as distributed rounds: the size ceiling that picks the regime, and
 * the string order. Both regimes must label and rank identically, so the
 * driver side compares strings the way Spark does — unsigned UTF-8 bytes
 * (`UTF8String.compareTo`, the order of `ORDER BY`, `min` and `least`),
 * not Java's UTF-16 code units, which disagree once non-BMP text meets
 * U+E000–U+FFFF.
 */
object DriverRegime {

  /** Row count at or below which a vocabulary-sized stage collects its
    * input (one bounded `limit(Ceiling + 1).collect()`) and finishes on
    * the driver. */
  val Ceiling: Int = 1 << 20

  /** `a < b` in Spark's binary string order. */
  def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** `strings` sorted in Spark's binary string order (each string is
    * encoded once, not once per comparison). */
  def sortUtf8(strings: Array[String]): Array[String] =
    strings.map(s => (s.getBytes(UTF_8), s))
      .sortWith((x, y) => java.util.Arrays.compareUnsigned(x._1, y._1) < 0)
      .map(_._2)
}
