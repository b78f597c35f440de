package graft

import graft.expressions.{EntityDecode, EntityDictionary, RegexpExtractGroups}
import graft.pipeline.{Corpus, MentionDetect}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native codegen expressions: semantics vs the built-ins they replace,
  * on both the codegen and interpreted paths. */
class ExpressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val pat = "^(.+?) (works|lives) (.+?)\\.$"

  test("regexp_extract_groups equals per-group regexp_extract on matches, null otherwise") {
    val df = Seq(
      "A B works C D.",     // match with multi-word groups
      "E 7 lives X_2.",     // match
      "no relation here",   // no match
      "works .",            // no match (empty groups not allowed by .+?)
      "").toDF("s")
    val got = df.select(
      RegexpExtractGroups(col("s"), pat).as("g"),
      regexp_extract(col("s"), pat, 1).as("e1"),
      regexp_extract(col("s"), pat, 2).as("e2"),
      regexp_extract(col("s"), pat, 3).as("e3")).collect()
    got.foreach { r =>
      if (r.isNullAt(0)) {
        // built-in returns "" for non-matching rows
        assert(r.getString(1) == "" && r.getString(3) == "")
      } else {
        val g = r.getSeq[String](0)
        assert(g == Seq(r.getString(1), r.getString(2), r.getString(3)))
      }
    }
    assert(got.count(_.isNullAt(0)) == 3)
  }

  test("interpreted eval agrees with codegen result") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = RegexpExtractGroups(BoundReference(0, StringType, nullable = true), Literal(pat))
    val hit = e.eval(InternalRow(UTF8String.fromString("A B works C D.")))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(hit.numElements() == 3)
    assert(hit.getUTF8String(1).toString == "works")
    assert(e.eval(InternalRow(UTF8String.fromString("nope"))) == null)
    assert(e.eval(InternalRow(null)) == null)
  }

  test("null capture groups surface as null array elements") {
    val df = Seq("ab").toDF("s")
    val r = df.select(RegexpExtractGroups(col("s"), "^(a)(x)?(b)$").as("g")).collect()(0)
    val g = r.getSeq[String](0)
    assert(g == Seq("a", null, "b"))
  }

  test("entity_decode: sparse ids decode by lookup, absent and null ids to null, on both paths") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.LongType
    val dict = spark.sparkContext.broadcast(EntityDictionary(Seq(
      Long.MaxValue -> "C", 7L -> "A", -5L -> "D", 7L -> "A", 1000003L -> "\uD83D\uDE00")))
    val ids  = Seq(Some(7L), Some(8L), Some(-5L), None, Some(Long.MaxValue),
      Some(0L), Some(1000003L), Some(Long.MinValue))
    val want = Seq("A", null, "D", null, "C", null, "\uD83D\uDE00", null)
    // the repartition keeps the projection off the driver-side local-relation
    // shortcut, and without the fallback a generated-code compile error throws
    val fallback = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(fallback)
    val codegen = try {
      spark.conf.set(fallback, "false")
      ids.zipWithIndex.toDF("id", "i").repartition(2)
        .select(col("i"), EntityDecode(col("id"), dict).as("c")).collect()
        .sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    } finally spark.conf.set(fallback, prev)
    assert(codegen == want)
    val e = EntityDecode(BoundReference(0, LongType, nullable = true), dict)
    assert(ids.map(i => Option(e.eval(InternalRow(i.getOrElse(null)))).map(_.toString).orNull) == want)
    intercept[IllegalArgumentException](EntityDictionary(Seq(1L -> "a", 1L -> "b")))
  }

  test("mention detection via the fused expression matches the 3x-regexp_extract form") {
    val docs = Corpus.generate(spark, 500, 40).toDF()
    val p = {
      val relAlt = Corpus.relations.map(java.util.regex.Pattern.quote).mkString("|")
      s"^(.+?) ($relAlt) (.+?)\\.$$"
    }
    val legacy = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("span_idx", "span")))
      .where(col("span.kind") === "text")
      .select(col("doc_id"), col("span_idx"),
        regexp_extract(col("span.text"), p, 1).as("subj_alias"),
        regexp_extract(col("span.text"), p, 2).as("rel"),
        regexp_extract(col("span.text"), p, 3).as("obj_alias"))
      .where(col("rel") =!= "")
    val fused = MentionDetect.mentions(docs)
    assert(fused.exceptAll(legacy).isEmpty && legacy.exceptAll(fused).isEmpty)
    assert(fused.count() > 0)
  }
}
