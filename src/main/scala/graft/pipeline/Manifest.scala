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
   */
  def footerStats(dir: String, hadoopConf: org.apache.hadoop.conf.Configuration): Seq[PartitionStat] = {
    import org.apache.hadoop.fs.Path
    val p  = new Path(dir)
    val fs = p.getFileSystem(hadoopConf)
    val it = fs.listFiles(p, true)
    val files = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.LocatedFileStatus]()
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) files += f
    }
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

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def write(dir: String, m: StageManifest): Unit = {
    val parts = m.partitions
      .map(p => s"""{"id":${p.id},"rows":${p.rows},"bytes":${p.bytes},"checksum":${p.checksum}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"stage":"${esc(m.stage)}","input_fingerprint":"${esc(m.inputFingerprint)}",""" +
        s""""total_rows":${m.totalRows},"global_checksum":${m.globalChecksum},""" +
        s""""partitions":$parts,"complete":${m.complete}}"""
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, "_manifest.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(dir, "_manifest.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Minimal field extraction — enough to decide skip/recompute. */
  def read(dir: String): Option[StageManifest] = {
    val p = Paths.get(dir, "_manifest.json")
    if (!Files.exists(p)) return None
    val s = Files.readString(p)
    def str(k: String) =
      s"""\"$k\":\"([^\"]*)\"""".r.findFirstMatchIn(s).map(_.group(1))
    def lng(k: String) =
      s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    for {
      stage <- str("stage")
      fp    <- str("input_fingerprint")
      rows  <- lng("total_rows")
    } yield StageManifest(stage, fp, rows, lng("global_checksum").getOrElse(0L),
      Nil, s.contains("\"complete\":true"))
  }
}
