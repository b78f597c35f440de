package graft.pipeline

import graft.{JobCounter, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The alias_map stage (alias union-find → best candidates → entity ids):
  * the driver and distributed regimes agree, and the driver regime stays
  * within a fixed job budget and writes one file. */
class AliasCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[(String, String, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("alias catalog: driver and distributed regimes assign identical ids") {
    // U+FFFF ("\uFFFF_1") sorts after U+1F600 ("\uD83D\uDE00_2") by UTF-16 code unit
    // but before it in Spark's UTF-8 byte order, which both regimes must use
    val canonicals = Seq("\uFFFF_1", "\uD83D\uDE00_2", "\uE000_3", "ent_a", "Ent_b", "\u00C9nt")
    val rng  = new scala.util.Random(5)
    val best = (1 to 400).map(i => (s"alias_$i", canonicals(rng.nextInt(canonicals.size))))
      .toDF("alias", "canonical").repartition(7)
    val driver      = rows(LinkScore.aliasDictionary(best))
    val distributed = rows(LinkScore.aliasDictionary(best, 0))
    assert(driver == distributed)
    assert(driver.size == 400)
    val ids = driver.map { case (_, c, id) => c -> id }.toMap
    assert(ids.values.toSeq.sorted == (1L to canonicals.size.toLong))
    assert(ids("\uFFFF_1") < ids("\uD83D\uDE00_2"))
  }

  test("alias_map stage runs at most 8 Spark jobs on a driver-scale vocabulary") {
    val dir = Files.createTempDirectory("graft-alias-jobs").toString
    MentionDetect.mentions(Corpus.generate(spark, 2000, 200).toDF())
      .write.parquet(s"$dir/mentions")
    val mentions = spark.read.parquet(s"$dir/mentions")
    val (_, jobs) = JobCounter(spark) {
      LinkScore.aliasDictionary(LinkScore.bestCandidates(Canonicalize.aliasMap(mentions)))
        .write.parquet(s"$dir/alias_map")
    }
    assert(jobs <= 8, s"$jobs jobs")
  }

  test("Pipeline.run writes alias_map as one parquet file") {
    // Guards the driver regime: its catalog is a local relation, which
    // Spark splits into one slice (one written file, one scan task per
    // later read) per core unless it is coalesced. The distributed regime
    // also writes one file at this size, because AQE coalesces its join
    // output, so this case alone does not tell the regimes apart.
    val dir = Files.createTempDirectory("graft-alias-file").toString
    new Pipeline(spark, dir, nBuckets = 4).run(Corpus.generate(spark, 300, 50))
    val files = new java.io.File(s"$dir/alias_map").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, files.map(_.getName).mkString(", "))
  }
}
