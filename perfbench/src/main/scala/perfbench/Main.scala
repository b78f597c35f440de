package perfbench

import org.apache.spark.sql.SparkSession

import graft.mine.MinerConfig

/**
 * The benchmark harness. One process on `local[cores]`:
 *
 *   warm-up on a tiny corpus → setup × SetupReps → timed ops for
 *   `--seconds` (at least MinOps) → result file
 *
 * Usage (normally through run.py, which builds the classpath):
 *   perfbench.Main --workload build|mine --seed N --seconds S --trace 0|1
 *     --workdir DIR --result FILE [--spans FILE]
 *
 * Untraced runs report the end-to-end metrics. Traced runs (--trace 1)
 * alternate untraced and traced ops, wrap every layer call of the traced
 * ones in a span, and report the per-layer metrics plus the tracing
 * overhead. The result file holds one JSON object; the exit code is 1 when
 * any op failed its correctness gate.
 */
object Main {
  /** Workload sizes. */
  object Sizes {
    val BuildDocs     = 20000L
    val BuildEnt      = 2000
    val QueryPoolPerKind = 12
    val QueryRounds   = 2
    val MineDocs      = 3000L
    val MineEnt       = 300
    val TinyDocs      = 600L
    val TinyEnt       = 60
  }
  val SetupReps = 3
  val MinOps    = 1

  /** Reference thresholds (minHC 0.01, minPCA 0.1, minSupport 20), depth 3,
    * heads restricted to the planted `livesIn` and bodies to the three
    * planted relations, so one mine fits the run. */
  val MineConfig: MinerConfig = MinerConfig(minSupport = 20, minHeadCoverage = 0.01,
    minPcaConfidence = 0.1, maxDepth = 3, headTargetRelations = Seq("livesIn"),
    bodyExcludedRelations = Set("wasBornIn", "type"))
  private val TinyMineConfig = MineConfig.copy(minSupport = 5)

  val Workloads: Seq[String] = Seq("build", "mine")

  /** Every per-layer span the traced runs report. */
  val Layers: Seq[String] = Seq(
    "pipeline.mentions", "pipeline.canonicalize", "pipeline.dictionary",
    "pipeline.materialize", "pipeline.manifest",
    "kb.decode", "kb.stats", "kb.query.plan", "kb.query.exec",
    "mine.init", "mine.mine", "mine.rescore", "mine.apply", "mine.rank")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workdir: String, result: String, spans: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("workdir"), need("result"), m.get("spans"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def session(cores: Int, workdir: String): SparkSession = {
    val s = graft.Sessions.tune(SparkSession.builder().master(s"local[$cores]"), cores, "perfbench")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, root: String, seed: Long,
      tiny: Boolean): Workload = {
    import Sizes._
    (name, tiny) match {
      case ("build", false) =>
        new BuildWorkload(spark, root, BuildDocs, BuildEnt, seed, QueryPoolPerKind, QueryRounds)
      case ("build", true) =>
        new BuildWorkload(spark, root, TinyDocs, TinyEnt, seed, 2, 1)
      case ("mine", false) => new MineWorkload(spark, root, MineDocs, MineEnt, seed, MineConfig)
      case ("mine", true)  =>
        new MineWorkload(spark, root, TinyDocs, TinyEnt, seed, TinyMineConfig, emitted = false)
      case _ => throw new IllegalArgumentException(s"unknown workload $name")
    }
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a      = parse(argv)
    val cores  = Runtime.getRuntime.availableProcessors
    val spark  = session(cores, a.workdir)
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val trace: Trace = tracer.getOrElse(NoTrace)

    // warm-up: the workload's code path once on a tiny corpus, so JIT,
    // codegen caches and lazy Spark set-up are paid before any timing. An
    // untraced run overlaps it with the first setup, whose own first-run
    // cost it shares; the median over SetupReps drops that first setup.
    def warmUp(): Unit = trace.run("warmup") {
      val wl = workload(a.workload, spark, s"${a.workdir}/warmup", a.seed, tiny = true)
      try {
        val (_, setupS) = Common.timed(wl.setup(0))
        val (r, opS)    = Common.timed(wl.op(0, trace))
        log(f"warm-up: setup $setupS%.2f s, op $opS%.2f s")
        if (!r.ok) throw new IllegalStateException(s"warm-up failed its gate: ${r.detail}")
      } finally wl.close()
    }
    val warm: Option[java.util.concurrent.Future[_]] =
      if (a.trace) { warmUp(); None }
      else {
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        try Some(pool.submit(new Runnable { def run(): Unit = warmUp() }))
        finally pool.shutdown()
      }

    val wl = workload(a.workload, spark, s"${a.workdir}/run", a.seed, tiny = false)
    val setupTimes = (0 until SetupReps).map { k =>
      if (k == 1) warm.foreach(_.get())
      val (_, s) = Common.timed(wl.setup(k))
      log(f"setup $k: $s%.3f s")
      s
    }

    // timed ops: at least MinOps, then more while the next one (assumed as
    // long as the last) still ends within `--seconds`. A traced run
    // alternates untraced (even) and traced (odd) ops, so it can report the
    // tracing overhead.
    val results = scala.collection.mutable.ArrayBuffer[(Boolean, OpResult)]()
    val t0   = System.nanoTime()
    var last = 0.0
    var i    = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < MinOps * (if (a.trace) 2 else 1) || elapsed + last <= a.seconds) {
      val opStart = elapsed
      val traced = a.trace && i % 2 == 1
      val r =
        try (if (traced) trace.run(s"op-$i")(wl.op(i, trace)) else wl.op(i, NoTrace))
        catch { case e: Exception => OpResult(0.0, Nil, ok = false, s"threw $e") }
      log(f"op $i${if (traced) " (traced)" else ""}: write ${r.writeS}%.3f s, " +
        f"reads ${r.readS.sum}%.3f s over ${r.readS.size}")
      if (!r.ok) log(s"op $i FAILED: ${r.detail}")
      results += ((traced, r))
      last = elapsed - opStart
      i += 1
    }
    wl.close()

    val attempted = results.size.toLong
    val failed    = results.count(!_._2.ok).toLong
    val ok        = failed == 0
    val plain     = results.collect { case (false, r) => r }.toSeq
    val writes    = plain.map(_.writeS)
    val reads     = plain.flatMap(_.readS)
    log(f"${attempted - failed} of $attempted ops passed (failure ratio " +
      f"${BenchMath.failureRatio(attempted, failed)}%.3f); ${writes.size} writes, " +
      BenchMath.tailPercentile(reads.size).map(p => f"${reads.size} reads, tail p$p%.0f")
        .getOrElse(s"${reads.size} reads"))

    val metrics: Seq[(String, Double, String)] =
      if (!ok) Nil
      else tracer match {
        case None =>
          Seq(
            ("setup_s", BenchMath.median(setupTimes), "s"),
            ("write_ms", BenchMath.median(writes) * 1e3, "ms"),
            ("read_ms", BenchMath.median(reads) * 1e3, "ms"),
            ("peak_rss_mb", peakRssMb(), "MB"))
        case Some(t) =>
          val tracedOps = results.collect { case (true, r) => r }.toSeq
          def perOp(k: String): Double = tracedOps.map(_.outputs.getOrElse(k, 0.0)).sum / tracedOps.size
          def total(r: OpResult) = r.writeS + r.readS.sum
          val overheadMs =
            (BenchMath.median(tracedOps.map(total)) - BenchMath.median(plain.map(total))) * 1e3
          t.layerMetrics(Layers, cores) ++ Seq(
            ("pipeline.bytes_written_per_triple",
              perOp("bytes_written") / math.max(perOp("triples"), 1.0), "bytes"),
            ("kb.query.rows_read_per_row_out",
              t.recordsRead("kb.query.exec") / math.max(perOp("rows_out") * tracedOps.size, 1.0),
              "ratio"),
            ("mine.rules_out", perOp("rules"), "count"),
            ("mine.predictions_out", perOp("predictions"), "count"),
            ("trace.overhead_ms", overheadMs, "ms"))
      }
    val json = Json.obj(Seq(
      "correct" -> ok.toString,
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.result), json + "\n")
    for (t <- tracer; f <- a.spans) java.nio.file.Files.writeString(java.nio.file.Paths.get(f), t.toJson)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
