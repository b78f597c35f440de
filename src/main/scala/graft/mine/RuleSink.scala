package graft.mine

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Rule output sink in the reference's full OutputColumn order
 * (rules/src/main/java/amie/rules/format/OutputColumn.java:5-8,
 * RuleFormatter.java:19-95; FIXTURES.md §4):
 *
 *   Rule  HeadCoverage  StdConfidence  PcaConfidence  Support
 *   SupportRatio  BodySize  PcaBodySize  FunctionalVariable
 *   StdConfUpperBound  PcaConfUpperBound  PcaConfEstimation
 *
 * Rule strings use the reference's deterministic atom ordering
 * (Rule.sortBody semantics, already baked into Rule.amieString), and the
 * frame is sorted for reproducible output files.
 */
object RuleSink {

  val Columns: Seq[String] = Seq(
    "Rule", "HeadCoverage", "StdConfidence", "PcaConfidence",
    "Support", "SupportRatio", "BodySize", "PcaBodySize", "FunctionalVariable",
    "StdConfUpperBound", "PcaConfUpperBound", "PcaConfEstimation")

  def toDF(spark: SparkSession, rules: Seq[ScoredRule]): DataFrame = {
    import spark.implicits._
    rules
      .map(s => (s.rule.amieString, s.headCoverage, s.stdConfidence,
        s.pcaConfidence, s.support, s.supportRatio, s.bodySize, s.pcaBodySize,
        s.functionalVariable, s.stdConfUpperBound, s.pcaConfUpperBound,
        s.pcaConfEstimation))
      .toDF(Columns: _*)
      .orderBy("Rule")
  }

  /** Datalog-like format (DatalogLikeRuleFormatter): same columns, rule
    * rendered `h(s,o) <= b1(..), b2(..)`. */
  def toDatalogDF(spark: SparkSession, rules: Seq[ScoredRule]): DataFrame = {
    import spark.implicits._
    rules
      .map(s => (s.rule.datalogString, s.headCoverage, s.stdConfidence,
        s.pcaConfidence, s.support, s.supportRatio, s.bodySize, s.pcaBodySize,
        s.functionalVariable, s.stdConfUpperBound, s.pcaConfUpperBound,
        s.pcaConfEstimation))
      .toDF(Columns: _*)
      .orderBy("Rule")
  }

  /** Reverse-datalog format (ReverseDatalogLikeRuleFormatter.java:5-17):
    * same columns as the default, rule rendered body-first
    * `b1(s,o) b2(s,o)  => h(s,o)`. */
  def toReverseDatalogDF(spark: SparkSession, rules: Seq[ScoredRule]): DataFrame = {
    import spark.implicits._
    rules
      .map(s => (s.rule.reverseDatalogString, s.headCoverage, s.stdConfidence,
        s.pcaConfidence, s.support, s.supportRatio, s.bodySize, s.pcaBodySize,
        s.functionalVariable, s.stdConfUpperBound, s.pcaConfUpperBound,
        s.pcaConfEstimation))
      .toDF(Columns: _*)
      .orderBy("Rule")
  }

  /** Default format with confidence families omitted
    * (NoStdDefaultRuleFormatter.java:17-41): omitting std drops
    * BodySize + StdConfidence; omitting PCA drops PcaBodySize +
    * PcaConfidence (the reference's `-ompca` flag maps to omitPca). */
  def toNoStdDF(spark: SparkSession, rules: Seq[ScoredRule],
      omitStd: Boolean, omitPca: Boolean): DataFrame = {
    val dropped =
      (if (omitStd) Seq("BodySize", "StdConfidence") else Nil) ++
      (if (omitPca) Seq("PcaBodySize", "PcaConfidence") else Nil)
    toDF(spark, rules).drop(dropped: _*)
  }

  /** AnyBURL export (AnyBurlFormatter.java:38-43 column set, headerless):
    * PcaBodySize, Support, PcaConfidence, Rule-with-X/Y/A… variables. */
  def toAnyBurlDF(spark: SparkSession, rules: Seq[ScoredRule]): DataFrame = {
    import spark.implicits._
    rules
      .map(s => (s.pcaBodySize, s.support, s.pcaConfidence, s.rule.anyBurlString))
      .toDF("PcaBodySize", "Support", "PcaConfidence", "Rule")
      .orderBy("Rule")
  }
}
