package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * TSV/CSV fact source + sink — the reference's native interchange format
 * (KB.java:203-324: `s<TAB>p<TAB>o[ .]` or `id<TAB>s<TAB>p<TAB>o[ .]`,
 * configurable delimiter, concurrent per-file load; dump at
 * KB.java:4224-4242).
 *
 * Spark-native: `spark.read.csv` already parallelizes over files and
 * splits, so the reference's one-thread-per-file loader collapses into
 * options. The trailing ` .` of NT-style lines is stripped with one
 * codegen'd regexp_replace; the 4-column (id-prefixed) variant is
 * detected from the header-free width.
 */
object TsvFacts {

  def load(spark: SparkSession, path: String, sep: String = "\t"): DataFrame = {
    val raw  = spark.read.option("sep", sep).csv(path)
    val cols = raw.columns.length
    // schema inference over an empty file finds no columns: no facts
    if (cols == 0) return spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq("subj", "pred", "obj").map(StructField(_, StringType))))
    require(cols == 3 || cols == 4, s"fact file must have 3 or 4 columns, got $cols")
    val (s, p, o) =
      if (cols == 4) (raw.columns(1), raw.columns(2), raw.columns(3))
      else (raw.columns(0), raw.columns(1), raw.columns(2))
    raw.select(
      trim(col(s)).as("subj"),
      trim(col(p)).as("pred"),
      trim(regexp_replace(col(o), "\\s*\\.\\s*$", "")).as("obj"))
      .where(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
  }

  /** Fact dump in the reference's TSV shape (KB.java:4224-4242). */
  def dump(triples: DataFrame, path: String, sep: String = "\t"): Unit =
    triples.select("subj", "pred", "obj")
      .write.mode("overwrite").option("sep", sep).csv(path)
}
