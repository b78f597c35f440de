package graft.tools

import graft.{Bench, Sessions, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Empirical scale probe for the KB / query-compiler / mining family —
 * the companion of [[ScaleProbe]] (which covers the pair-producing
 * dedup/similarity ops). The sandbox ships test data up to sf0.1, so
 * the probe synthesizes a K×-scale KB by deterministic K-fold
 * replication of the fact-bearing tables (customer, supplier, orders,
 * events) with collision-free key remapping that PRESERVES join
 * structure: an order replica points at the matching customer replica,
 * an event replica at the matching user replica. Dimension tables
 * (nation, region) stay fixed — so per-relation fan-in to the 25/5 hub
 * entities grows K×, exactly the head-entity skew growth a web-scale
 * KG exhibits (BASELINE.json north_star calls this out explicitly).
 *
 * Every timed operator is the PRODUCTION [[SparkEntry.queries]] entry,
 * run unchanged against the blown-up directory — including parquet
 * scan, pushdown and the per-session triples-view persist. Timings are
 * PAIRED: each query runs at K=1 and at K in the same session minutes
 * apart, so the reported ratio is ambient-resistant the same way the
 * bench's paired estimators are (BASELINE.md round-2 methodology).
 * A query whose K=10 time is ≲ 10× its K=1 time scales linearly-or-
 * better; super-linear ratios flag a quadratic.
 *
 * Run:  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
 *       sbt "runMain graft.tools.KBScaleProbe [K] [cores]"
 * Emits one JSON line; results recorded in BASELINE.md (§scale-probe).
 */
object KBScaleProbe {

  /** The KB-family queries worth probing at scale, in sweep order:
    * dictionary/encode (3-way join), full-scan stats, the Σ relation²
    * overlap tables, conjunctive joins, iterative closure, the bounded
    * class-intersection quadratic, windowed histograms, delta
    * maintenance, rule scoring and the full depth-2 mining run. */
  val ProbedQueries: Seq[String] = Seq(
    "kb_dictionary", "kb_encoded", "kb_stats",
    "kb_overlaps", "kb_overlaps_so",
    "kb_taxonomy_closure",
    "kb_type_intersections", "kb_typing_overlap",
    "kb_cardinality_hist", "kb_delta",
    "kb_card_inline", "kb_rule_metrics", "kb_mined_rules_d2",
    // r5 additions. kb_witness_subgraph: the connected-subgraph
    // existential rewrite — its 2-atom witness chain (orderCust ∧
    // orderPriority) grows K× per customer, so WITHOUT the rewrite the
    // pre-distinct join fans out K×; with it the chain collapses to a
    // semi-join before joining. kb_link_prediction*: filteredRanks' hub
    // keys — (pred, nation) candidate pools AND test triples on the same
    // key both grow K×, so the old candidate×test pair join was K²; the
    // single ranking window should hold it ~K.
    "kb_witness_subgraph", "kb_link_prediction", "kb_link_prediction_maxplus",
    // last: its OUTPUT is quadratic by construction (both join sides
    // replicate K× against the fixed 25-nation hub → K² distinct pairs),
    // so it is the longest job and the one most likely to straddle an
    // ambient freeze — a failure here must not cost the rest of the sweep
    "kb_join_two_atoms")

  /** K-fold replicate `df`, remapping each column in `keys` as
    * key*K + rep. Replica 0 = the original row (keys scaled but
    * relative structure identical), so K=1 is a pure identity remap. */
  private def blowUp(df: DataFrame, k: Int, keys: Seq[String]): DataFrame = {
    val exploded = df.withColumn("__rep", explode(sequence(lit(0), lit(k - 1))))
    keys.foldLeft(exploded) { (d, c) =>
      d.withColumn(c, (col(c).cast("long") * k + col("__rep")).cast(df.schema(c).dataType))
    }.drop("__rep")
  }

  /** Tables referenced by the probed queries and their replication keys;
    * nation/region are dimension hubs and are copied unscaled. */
  private val FactTables = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "orders"   -> Seq("o_orderkey", "o_custkey"),
    "events"   -> Seq("event_id", "user_id"))
  private val DimTables = Seq("nation", "region")

  private def materializeScaled(spark: SparkSession, src: String,
      k: Int, out: String): Unit = {
    // Write fact tables as multi-file parquet: the sf0.1 sources are
    // single files, and explode() preserves partitioning, so without the
    // repartition a K× table would still be ONE split — and every scan →
    // join → partial-agg pipeline over it would run as one task, which is
    // a layout artifact no real large table exhibits (a 100-TB table is
    // thousands of splits). First probe run measured a 60M-row hub join
    // at 920 s single-task because of exactly this.
    val parts = spark.sparkContext.defaultParallelism
    for ((name, keys) <- FactTables)
      blowUp(spark.read.parquet(s"$src/$name.parquet"), k, keys)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    for (name <- DimTables)
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
  }

  def main(args: Array[String]): Unit = {
    val k     = args.headOption.map(_.toInt).getOrElse(10)
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(
      Runtime.getRuntime.availableProcessors())
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.tune(SparkSession.builder(), cores, "graft-kb-scale-probe")
      .master(s"local[$cores]")
      // this sandbox's ambient host freezes have been observed to stall the
      // whole JVM for 200-300 s mid-job (BASELINE.md §calibration); default
      // heartbeat policy then removes the local "executor" and kills the
      // context. The probe is a measurement tool — ride the freeze out.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "900s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val base  = s"/tmp/graft_kbscale/k1"
      val big   = s"/tmp/graft_kbscale/k$k"
      materializeScaled(spark, sfDir, 1, base)
      materializeScaled(spark, sfDir, k, big)

      def timeQuery(name: String, dir: String): (Double, Long) = {
        val t0   = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }

      // Warm the shared code paths once (JIT/codegen first-touch lands on
      // whichever query runs first otherwise — bench sweep methodology)
      // AND both dirs' persisted triples views, so no single timed query
      // absorbs the one-time view materialization of its dir. The link
      // family gets its own warm-up: its first post-materialize invocation
      // in a probe session was measured at 70-90 s vs an 11 s steady state
      // on the SAME directory (BASELINE.md §scale-probe caveat) — a
      // one-time codegen/JIT transient on the widest plan in the sweep,
      // which a single timed k1 sample would otherwise absorb as a fake
      // 6-8× "regression".
      timeQuery("kb_stats", base)
      timeQuery("kb_stats", big)
      timeQuery("kb_link_prediction", base)

      // Ambient calibration checkpoints, same probes the bench embeds
      // (clean-window references: ALU ≤2.4 s, mem ≤1.1 s — BASELINE.md
      // §calibration): lets a reader distinguish a degraded host window
      // from a real super-linear ratio without re-running the probe.
      val probeStart = Bench.probeJson("post_warmup")

      // optional csv filter for re-probing a family after a fix
      val wanted = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
        .map(_.split(",").map(_.trim).toSet)
      val results = ProbedQueries.filter(q => wanted.forall(_(q))).map { name =>
        // one query's failure (e.g. an ambient freeze outlasting even the
        // raised timeouts) must not cost the rest of the sweep
        try {
          val (sec1, rows1) = timeQuery(name, base)
          val (secK, rowsK) = timeQuery(name, big)
          val ratio = secK / math.max(sec1, 1e-9)
          System.err.println(
            f"[kbprobe] $name%-24s k1 $sec1%7.2f s ($rows1%d rows)  k$k $secK%7.2f s ($rowsK%d rows)  ratio ${ratio}%5.1f×")
          f""""$name":{"sec_k1":$sec1%.2f,"rows_k1":$rows1,"sec_k":$secK%.2f,"rows_k":$rowsK,"ratio":$ratio%.2f}"""
        } catch {
          case e: Exception if !spark.sparkContext.isStopped =>
            System.err.println(s"[kbprobe] $name FAILED: ${e.getMessage.take(120)}")
            s""""$name":{"err":"${e.getClass.getSimpleName}"}"""
        }
      }
      val probeEnd = Bench.probeJson("post_sweep")
      println(s"""{"probe":"kb_ops_scale","k":$k,"cores":$cores,"calibration":[$probeStart,$probeEnd],${results.mkString(",")}}""")
    } finally spark.stop()
  }
}
