package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Per-stage checkpoint manifest — the resumability + lineage contract of
 * the north rule (FIXTURES.md §3): every stage write is accompanied by a
 * `_manifest.json` recording the stage id, a fingerprint of its input,
 * per-file row counts and bytes, and an order-independent content
 * checksum. A stage whose manifest exists, is complete, and matches the
 * current input fingerprint is skipped on restart and its parquet output
 * reused.
 *
 * Written atomically (tmp file + move) so a crash mid-write never leaves
 * a manifest that claims completeness. This emulates the Iceberg
 * snapshot/manifest contract with plain parquet + JSON (no Iceberg jars
 * in the sandbox; the observable properties — partitioned layout,
 * resumable commits, per-file stats — are the same).
 */
final case class PartitionStat(id: Int, rows: Long, bytes: Long, checksum: Long)
final case class StageManifest(
    stage: String,
    inputFingerprint: String,
    totalRows: Long,
    /** order-independent xxhash64-XOR of all rows, captured by observe()
      * during the write job itself — no second pass over the output. */
    globalChecksum: Long,
    partitions: Seq[PartitionStat],
    complete: Boolean)

object Manifest {

  /** Order-independent fingerprint of any DataFrame: row count + sum of
    * per-row xxhash64 over all columns (cast to string for stability). */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.map(c => col(c).cast("string"))
    val r = df.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(cols.toSeq: _*)), lit(0L)).as("h")).collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /**
   * Per-file lineage counters straight from the parquet footers:
   * row counts from block metadata, bytes from file status — METADATA
   * ONLY, no data read. This is the Iceberg-manifest discipline (per-file
   * record_count/file_size) and the only viable option when a stage
   * output is petabytes. File order is path-sorted → deterministic ids.
   *
   * The stage is listed by a recursive `listStatus` walk: a plain
   * `FileStatus` carries path and length without loading permissions,
   * where `listFiles` builds a `LocatedFileStatus` that copies them, and
   * the local file system without the native Hadoop library loads them
   * by forking `ls -ld` once per file and directory.
   */
  def footerStats(dir: String, hadoopConf: org.apache.hadoop.conf.Configuration): Seq[PartitionStat] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p  = new Path(dir)
    val fs = p.getFileSystem(hadoopConf)
    def parquet(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap { f =>
      if (f.isDirectory) parquet(f.getPath)
      else if (f.getPath.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }
    val files = parquet(p)
    // footer reads are tiny metadata IOs but there can be hundreds of
    // files (buckets × tasks) — read them concurrently, keep path-sorted
    // deterministic ids (serial reads made the manifest pass scale
    // BACKWARDS: more cores → more files → more serial driver time)
    val sorted = files.sortBy(_.getPath.toString).zipWithIndex.toSeq
    val pool   = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, sorted.size)))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = sorted.map { case (f, i) =>
        new java.util.concurrent.Callable[PartitionStat] {
          def call(): PartitionStat = {
            val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
              hadoopConf, f.getPath,
              org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
            val rows = footer.getBlocks.stream().mapToLong(_.getRowCount).sum()
            PartitionStat(i, rows, f.getLen, 0L)
          }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  def write(dir: String, m: StageManifest): Unit = {
    val json = Json.createObjectNode()
      .put("stage", m.stage).put("input_fingerprint", m.inputFingerprint)
      .put("total_rows", m.totalRows).put("global_checksum", m.globalChecksum)
    val parts = json.putArray("partitions")
    m.partitions.foreach(p => parts.addObject()
      .put("id", p.id).put("rows", p.rows).put("bytes", p.bytes).put("checksum", p.checksum))
    json.put("complete", m.complete)
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, "_manifest.json.tmp")
    Files.writeString(tmp, Json.writeValueAsString(json))
    Files.move(tmp, Paths.get(dir, "_manifest.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The fields that decide skip/recompute (per-file stats are not read
    * back); `None` without a manifest or when it does not parse. */
  def read(dir: String): Option[StageManifest] = {
    val p = Paths.get(dir, "_manifest.json")
    if (!Files.exists(p)) return None
    val j = try Json.readTree(Files.readString(p)) catch {
      case _: com.fasterxml.jackson.core.JacksonException => return None
    }
    def field(k: String) = Option(j.get(k))
    for {
      stage <- field("stage").map(_.asText)
      fp    <- field("input_fingerprint").map(_.asText)
      rows  <- field("total_rows").map(_.asLong)
    } yield StageManifest(stage, fp, rows, field("global_checksum").fold(0L)(_.asLong),
      Nil, field("complete").exists(_.asBoolean))
  }
}
