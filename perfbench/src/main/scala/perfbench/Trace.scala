package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative counters at one instant. */
final case class Snap(jobs: Long, tasks: Long, taskMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, recordsRead: Long, gcMs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    recordsRead - o.recordsRead, gcMs - o.gcMs)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    recordsRead + o.recordsRead, gcMs + o.gcMs)
}
object Snap { val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0) }

/** The benchmark's listener: job, task, shuffle, spill and input-record
  * counts plus the wall intervals during which at least one job ran. In
  * local mode driver and executors share one JVM, so GC time is read
  * from the JVM's collectors rather than summed over concurrent tasks. */
final class SparkCounters extends SparkListener {
  private val jobs, tasks, taskMs, shuffleW, spill, records = new AtomicLong
  private var active      = 0
  private var activeSince = 0L
  private val busy        = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (active == 0) activeSince = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busy += ((activeSince, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      records.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snap(): Snap = Snap(jobs.get, tasks.get, taskMs.get, shuffleW.get, spill.get,
    records.get, SparkCounters.gcMs())

  /** Wall intervals (epoch ms) with at least one job running. */
  def busyIntervals: Seq[(Long, Long)] = synchronized(busy.toList)
}

object SparkCounters {
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }
}

final case class SpanRec(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, begin: Snap, end: Snap)

/** Span recording. [[NoTrace]] runs the body untouched; [[Tracer]]
  * records name, start, end, parent and run id, with listener counters
  * snapshotted at both edges. */
trait Trace {
  def span[A](name: String)(f: => A): A
  /** A root span: one timed operation (run id "op-N") or the warm-up. */
  def run[A](runId: String)(f: => A): A
}

object NoTrace extends Trace {
  def span[A](name: String)(f: => A): A = f
  def run[A](runId: String)(f: => A): A = f
}

final class Tracer(sc: SparkContext) extends Trace {
  val counters = new SparkCounters
  sc.addSparkListener(counters)

  private val spans = ArrayBuffer[SpanRec]()
  private var stack = List.empty[(Int, String)] // (span id, run id)
  private var next  = 0

  private def edge(): (Long, Long, Snap) = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    (System.nanoTime(), System.currentTimeMillis(), counters.snap())
  }

  def run[A](runId: String)(f: => A): A = open("run", runId)(f)

  def span[A](name: String)(f: => A): A =
    open(name, stack.headOption.map(_._2).getOrElse("unscoped"))(f)

  private def open[A](name: String, runId: String)(f: => A): A = {
    val id     = next
    next += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack ::= ((id, runId))
    val (ns0, ms0, s0) = edge()
    try f
    finally {
      val (ns1, ms1, s1) = edge()
      stack = stack.tail
      spans += SpanRec(id, parent, name, runId, ns0, ns1, ms0, ms1, s0, s1)
    }
  }

  def records: Seq[SpanRec] = spans.toList

  /** Per-layer metrics for `layers`: `<layer>.<stat>` per timed op, from
    * the spans of that name inside ops. A layer the ops never call reads 0. */
  def layerMetrics(layers: Seq[String], cores: Int): Seq[(String, Double, String)] = {
    val all    = records
    val selfNs = BenchMath.selfTimes(all.map(s => (s.id, s.parent, s.startNs, s.endNs)))
    val kids   = all.groupBy(_.parent)
    val busy   = counters.busyIntervals
    val nOps   = math.max(all.count(s => s.parent == -1 && s.runId.startsWith("op-")), 1).toDouble
    // the part of a span's wall interval (epoch ms) its children do not cover
    def own(s: SpanRec): Seq[(Long, Long)] =
      BenchMath.subtract((s.startMs, s.endMs), kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)))
    def selfSnap(s: SpanRec): Snap =
      kids.getOrElse(s.id, Nil).foldLeft(s.end - s.begin)((a, k) => a - (k.end - k.begin))
    layers.flatMap { layer =>
      val sel    = opSpans(layer)
      val snap   = sel.map(selfSnap).foldLeft(Snap.Zero)(_ + _)
      val wallMs = sel.flatMap(own).map(i => i._2 - i._1).sum
      val busyMs = sel.flatMap(own).map { case (a, b) => BenchMath.unionLength(BenchMath.clip(busy, a, b)) }.sum
      val busyRatio = if (wallMs > 0) snap.taskMs.toDouble / (wallMs.toDouble * cores) else 0.0
      Seq(
        (s"$layer.self_s", sel.map(s => selfNs(s.id)).sum / 1e9 / nOps, "s"),
        (s"$layer.jobs", snap.jobs / nOps, "count"),
        (s"$layer.tasks", snap.tasks / nOps, "count"),
        (s"$layer.core_busy_ratio", busyRatio, "ratio"),
        (s"$layer.driver_gap_s", (wallMs - busyMs) / 1e3 / nOps, "s"),
        (s"$layer.shuffle_write_bytes", snap.shuffleWriteBytes / nOps, "bytes"),
        (s"$layer.spill_bytes", snap.spillBytes / nOps, "bytes"),
        (s"$layer.gc_s", snap.gcMs / 1e3 / nOps, "s"))
    }
  }

  private def opSpans(layer: String): Seq[SpanRec] =
    records.filter(s => s.name == layer && s.runId.startsWith("op-"))

  /** Input records read by the spans named `layer` inside timed ops. */
  def recordsRead(layer: String): Long =
    opSpans(layer).map(s => s.end.recordsRead - s.begin.recordsRead).sum

  def toJson: String = records.map { s =>
    Json.obj(Seq(
      "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "name" -> Json.str(s.name), "run_id" -> Json.str(s.runId),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "duration_s" -> Json.num((s.endNs - s.startNs) / 1e9),
      "jobs" -> Json.num(s.end.jobs - s.begin.jobs),
      "tasks" -> Json.num(s.end.tasks - s.begin.tasks),
      "task_s" -> Json.num((s.end.taskMs - s.begin.taskMs) / 1e3),
      "shuffle_write_bytes" -> Json.num(s.end.shuffleWriteBytes - s.begin.shuffleWriteBytes),
      "spill_bytes" -> Json.num(s.end.spillBytes - s.begin.spillBytes),
      "records_read" -> Json.num(s.end.recordsRead - s.begin.recordsRead),
      "gc_s" -> Json.num((s.end.gcMs - s.begin.gcMs) / 1e3)))
  }.mkString("[\n", ",\n", "\n]\n")
}
