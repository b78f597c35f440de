package graft

import graft.pipeline.{Canonicalize, Corpus, MentionDetect}
import graft.streaming.StreamingIngest
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental (Structured Streaming) construction: new doc batches are
  * appended exactly once across restarts of the stream. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streamed triples equal batch triples, incrementally and across restart") {
    val root   = Files.createTempDirectory("graft-stream").toString
    val docsIn = s"$root/docs"
    val out    = s"$root/triples"
    val chk    = s"$root/chk"

    // alias catalog from a bootstrap corpus (the slowly-evolving side)
    val boot     = Corpus.generate(spark, 400, 50)
    val aliasMap = Canonicalize.aliasMap(MentionDetect.mentions(boot.toDF()))
      .localCheckpoint(true)

    // batch 1 lands
    boot.toDF().where("doc_id like 'doc1%'").write.parquet(s"$docsIn/b1")
    StreamingIngest.start(spark, s"$docsIn/*", aliasMap, out, chk).awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)

    // batch 2 lands; a NEW query resumes from the same checkpoint
    boot.toDF().where("doc_id like 'doc2%'").write.parquet(s"$docsIn/b2")
    StreamingIngest.start(spark, s"$docsIn/*", aliasMap, out, chk).awaitTermination()
    val n2 = spark.read.parquet(out).count()
    assert(n2 > n1)

    // re-running with no new data must append NOTHING (exactly-once)
    StreamingIngest.start(spark, s"$docsIn/*", aliasMap, out, chk).awaitTermination()
    assert(spark.read.parquet(out).count() == n2)

    // and the streamed result equals the batch computation on the same docs
    val streamed = spark.read.parquet(out)
      .select("subj", "pred", "obj").distinct().count()
    val batch = graft.pipeline.LinkScore.link(
        MentionDetect.mentions(
          boot.toDF().where("doc_id like 'doc1%' or doc_id like 'doc2%'")),
        aliasMap)
      .select("subj", "rel", "obj").distinct().count()
    assert(streamed == batch)
  }

  test("windowed relation counts: watermark drops late data, windows emit once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{StreamingStats, TimedTriple}
    import spark.implicits._
    implicit val sq = spark.sqlContext

    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val in = MemoryStream[TimedTriple]
    val q = StreamingStats.windowedRelationCounts(
        in.toDF(), watermarkDelay = "10 minutes", windowLength = "60 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(StreamingStats.WindowedOutputMode).start()

    // window [0, 60): two livesIn, one worksAt
    in.addData(
      TimedTriple("a", "livesIn", "P", ts(5)),
      TimedTriple("b", "livesIn", "P", ts(20)),
      TimedTriple("c", "worksAt", "T", ts(50)))
    q.processAllAvailable()
    // advance the watermark past [0, 60) + 10min delay → window finalizes
    in.addData(TimedTriple("d", "livesIn", "P", ts(130)))
    q.processAllAvailable()
    // this event is LATE (watermark is at 120): must be dropped
    in.addData(TimedTriple("late", "livesIn", "P", ts(10)))
    q.processAllAvailable()
    // close the second window too
    in.addData(TimedTriple("e", "worksAt", "T", ts(260)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_counts")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
      .toSet
    assert(rows.contains((0L, "livesIn", 2L)))  // late row NOT counted
    assert(rows.contains((0L, "worksAt", 1L)))
    assert(rows.contains((120L, "livesIn", 1L)))
  }

  test("stateful new-entity tracking emits each entity exactly once across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{StreamingStats, TimedTriple}
    import spark.implicits._
    implicit val sq = spark.sqlContext

    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val in = MemoryStream[TimedTriple]
    val q = StreamingStats.newEntities(in.toDS())
      .writeStream.format("memory").queryName("new_entities")
      .outputMode("update").start()

    in.addData(TimedTriple("Luis", "livesIn", "Paris", ts(1)))
    q.processAllAvailable()
    // batch 2: one old entity (Luis, Paris), one new (Telecom)
    in.addData(TimedTriple("Luis", "worksAt", "Telecom", ts(2)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("new_entities")
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).getTime / 60000).toMap
    assert(rows == Map("Luis" -> 1L, "Paris" -> 1L, "Telecom" -> 2L))
  }
}
