package graft

import graft.kb._
import graft.mine._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Whole-stage code compiles once per JVM: a plan shape seen before in
  * the session starts no new Janino compilation ([[Sessions.tune]]'s
  * codegen settings), and parts that differ only in their id tag share
  * one class ([[Jobs.tag]]). */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The block's result and the number of classes compiled while it ran. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out    = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a second mine over the same KB compiles nothing and returns the same rules") {
    val kb  = Fixtures.baseKB(spark)
    val cfg = MinerConfig(minSupport = 2, minHeadCoverage = 0.1,
      minPcaConfidence = 0.1, maxDepth = 3)
    val (first, _)      = compiles(new Miner(kb, cfg).mine())
    val (second, fresh) = compiles(new Miner(kb, cfg).mine())
    assert(first.nonEmpty)
    assert(second == first)
    assert(fresh == 0, s"$fresh classes compiled by the second mine")
  }

  test("parts that differ only in their tag compile one class per shape") {
    // an int literal is inlined into the generated code, so this salt
    // makes the shape one no other test compiles
    val salt = 1000003L
    def part(id: Int) = spark.range(8).select(Jobs.tag(id).as("id"),
      (col("id") * salt).as("v"))
    val (one, cold) = compiles(Jobs.collectChunked(Seq(part(0)), Miner.TemplateChunk))
    assert(cold > 0, "the salted shape was already compiled")
    val (many, again) =
      compiles(Jobs.collectChunked((1 to 6).map(part), Miner.TemplateChunk))
    assert(one.map(Jobs.tagOf).distinct == Seq(0))
    assert(many.map(Jobs.tagOf).toSet == (1 to 6).toSet && many.size == 6 * 8)
    assert(again == 0, s"$again classes compiled for 6 parts of a compiled shape")
  }
}
