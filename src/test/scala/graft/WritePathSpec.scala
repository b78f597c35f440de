package graft

import graft.io.LocalFs
import graft.pipeline._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The write path forks no OS process: the session's `file:` file system
  * is [[graft.io.LocalFs]] (permissions by system call, not `chmod`), and
  * [[Manifest.footerStats]] lists a stage without loading permissions
  * (no `ls -ld`). Modes and per-file stats stay what stock Hadoop gives. */
class WritePathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The block's result and the command line of every OS process the JVM
    * started while it ran, each with its innermost stack frames. */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      val starts = RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(8))
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        s"${e.getString("command")} at ${frames.mkString(" < ")}"
      }
      (out, starts)
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def assertNoStarts(what: String, starts: Seq[String]): Unit =
    if (starts.nonEmpty) fail(starts.mkString(s"$what started ${starts.size} processes:\n", "\n", ""))

  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      .sortBy(_.toUri.getPath)
    finally s.close()
  }

  test("the session's file: scheme is the forkless local file system") {
    val fs = FileSystem.get(new URI("file:///"), hconf)
    assert(fs.isInstanceOf[LocalFs], s"got ${fs.getClass.getName}")
  }

  test("a fresh and a resumed Pipeline.run start no OS process") {
    val docs = Corpus.generate(spark, 300, 50)
    val dir  = Files.createTempDirectory("graft-forks").toString
    org.apache.spark.graft.ProcessProbes.runOnce()
    val (fresh, freshStarts) = processStarts {
      val p = new Pipeline(spark, dir, nBuckets = 4); p.run(docs); p }
    assert(fresh.runsExecuted.toSet == Set("mentions", "alias_map", "triples"))
    assertNoStarts("a fresh run", freshStarts)
    val (resumed, resumedStarts) = processStarts {
      val p = new Pipeline(spark, dir, nBuckets = 4); p.run(docs); p }
    assert(resumed.runsSkipped.toSet == Set("mentions", "alias_map", "triples"))
    assertNoStarts("a resumed run", resumedStarts)

    // the modes stock Hadoop gives: its create/mkdirs defaults under the umask
    val umask = FsPermission.getUMask(hconf)
    def mode(p: FsPermission) = PosixFilePermissions.fromString(p.applyUMask(umask).toString)
    val bucket = Paths.get(dir, "triples", "bucket=0")
    val part   = parquetFiles(bucket.toString).head
    val crc    = part.resolveSibling(s".${part.getFileName}.crc")
    assert(Files.exists(crc))
    for (f <- Seq(part, crc))
      assert(Files.getPosixFilePermissions(f) == mode(FsPermission.getFileDefault), f)
    for (d <- Seq(bucket, bucket.getParent))
      assert(Files.getPosixFilePermissions(d) == mode(FsPermission.getDirDefault), d)
  }

  test("LocalFs sets every rwx mode that chmod would") {
    val fs   = FileSystem.get(new URI("file:///"), hconf)
    val file = Files.createTempFile("graft-mode", ".bin")
    try for (m <- 0 until 512) {
      val perm = new FsPermission(m.toShort)
      fs.setPermission(new org.apache.hadoop.fs.Path(file.toUri), perm)
      assert(Files.getPosixFilePermissions(file) == PosixFilePermissions.fromString(perm.toString),
        f"mode $m%03o")
    } finally Files.delete(file)
  }

  for (nBuckets <- Seq(1, 4))
    test(s"footerStats equals a java.nio walk plus parquet footers ($nBuckets buckets)") {
      val dir = Files.createTempDirectory(s"graft-footers-$nBuckets").toString
      new Pipeline(spark, dir, nBuckets).run(Corpus.generate(spark, 300, 50))
      for (stage <- Seq("mentions", "alias_map", "triples")) {
        val stageDir = s"$dir/$stage"
        val files = parquetFiles(stageDir)
        val want = files.zipWithIndex.map { case (f, i) =>
          val in = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), hconf))
          val rows = try in.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally in.close()
          PartitionStat(i, rows, Files.size(f), 0L)
        }
        assert(want.nonEmpty, stage)
        if (stage == "triples")
          assert(files.map(_.getParent.getFileName.toString).distinct.size == nBuckets)
        assert(Manifest.footerStats(stageDir, hconf) == want, stage)
      }
    }
}
