package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}

/**
 * The one rule that picks driver-side or distributed work for the
 * vocabulary-sized stages of KG construction: a stage whose input has at
 * most [[Ceiling]] rows collects it and finishes on the driver, a larger
 * one runs as distributed rounds. The rule makes three choices:
 *  - the alias map (`Canonicalize.aliasMap`): blocking-key union-find on
 *    the driver, or key contraction + star-round connected components;
 *  - the entity ids (`LinkScore.aliasDictionary`): a driver sort of the
 *    canonicals, or `Dictionary.sortedRanks`;
 *  - the entity catalog (the `alias_map` stage's row count): broadcast
 *    into the link joins of `Pipeline.run`, and collected by
 *    `Pipeline.materialized` into a sorted id → canonical dictionary that
 *    is broadcast once per view and decodes ids by lookup
 *    (`graft.expressions.EntityDecode`); above the ceiling the link joins
 *    get no hint, the view decodes with two joins against the distributed
 *    catalog, and Catalyst/AQE choose the joins.
 *
 * Both regimes must label and rank identically, so the driver side
 * compares strings the way Spark does — unsigned UTF-8 bytes
 * (`UTF8String.compareTo`, the order of `ORDER BY`, `min` and `least`),
 * not Java's UTF-16 code units, which disagree once non-BMP text meets
 * U+E000–U+FFFF.
 */
object DriverRegime {

  /** Row count at or below which a vocabulary-sized stage finishes on the
    * driver. */
  val Ceiling: Int = 1 << 20

  /** Whether `rows` rows fit the driver regime. */
  def fits(rows: Long, ceiling: Int = Ceiling): Boolean = rows <= ceiling

  /** One bounded collect of `df` (`limit(ceiling + 1)`: at most
    * `ceiling + 1` rows ever reach the driver): all its rows when they
    * [[fits]], else `None`. */
  def probe(df: DataFrame, ceiling: Int = Ceiling): Option[Array[Row]] = {
    val rows = df.limit(ceiling + 1).collect()
    if (fits(rows.length, ceiling)) Some(rows) else None
  }

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
