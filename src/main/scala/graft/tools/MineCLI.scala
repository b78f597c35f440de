package graft.tools

import graft.Sessions
import graft.kb.Taxonomy
import graft.mine._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * spark-submit entry point for mining an arbitrary KB — the analog of the
 * reference's `AMIE.main` + option surface
 * (mining/src/main/java/amie/mining/AMIE.java:1104-1148,
 * mining/src/main/java/amie/mining/utils/AMIEOptions.java). Flag names
 * mirror the reference where a counterpart exists; flags tied to the
 * reference's in-process engine (caching, client/server remote KB,
 * thread count) have no meaning here — Spark's cluster manager and
 * Catalyst replace them.
 *
 *   spark-submit --class graft.tools.MineCLI graft.jar \
 *     -i /data/facts.tsv -o /out/rules \
 *     -mins 100 -minhc 0.01 -minpca 0.1 -maxad 3 -const -bias oneVar
 *
 * Input format by extension (.tsv/.csv, .nt, .ttl, or a parquet dir
 * with subj/pred/obj columns); `-ifmt` overrides. Output is a TSV rule
 * file in the reference's column order (`-ofmt tsv|datalog|anyburl`).
 * When run outside spark-submit (no master set), falls back to
 * `local[all cores]`.
 */
object MineCLI {

  private val usage =
    """usage: MineCLI -i <input> -o <outdir> [options]
      |  -i <path>       input facts: .tsv/.csv (subj<TAB>pred<TAB>obj), .nt, .ttl, or parquet dir
      |  -ifmt <f>       force input format: tsv|nt|ttl|parquet
      |  -o <path>       output directory for the rule TSV
      |  -ofmt <f>       output format: tsv (default) | datalog | reversedatalog | anyburl
      |  -ompca          omit the PCA confidence columns from the output
      |  -mins <n>       min absolute support            (default 100)
      |  -minis <n>      min initial (seed) support      (default = -mins)
      |  -minhc <x>      min head coverage               (default 0.01)
      |  -pm <m>         pruning metric: support | headcoverage
      |                  (default: both thresholds apply, max of the two)
      |  -minpca <x>     min PCA confidence              (default 0.1)
      |  -minc <x>       min standard confidence         (default 0.0)
      |  -maxad <n>      max rule length in atoms        (default 3)
      |  -const          enable constants (O_I instantiation)
      |  -bias <b>       default|oneVar|signatured|anyburl|seedsCount|
      |                  instantiatedHead|existential|existentialRules|typed
      |                  (default: default; lazy and lazit mine as default:
      |                  their bounded denominators emit the same rules)
      |  -htr r1,r2      head target relations
      |  -hexr r1,r2     head excluded relations
      |  -bexr r1,r2     body excluded relations
      |  -optimcb        accepted, no effect: a level's counts run as one fused
      |                  plan, so bound pruning saves no query
      |  -optimfh        enable functionality-heuristic PCA estimation
      |  -full           same as -optimfh
      |  -rl <n>         recursivity limit (max same-relation atoms, default 2)
      |  -cores <n>      local-mode core count when not under spark-submit
      |""".stripMargin

  final case class Args(
      input: String = "", output: String = "", ifmt: String = "",
      ofmt: String = "tsv", omitPca: Boolean = false,
      cores: Int = Runtime.getRuntime.availableProcessors(),
      config: MinerConfig = MinerConfig(), biasName: String = "default")

  private[graft] def parse(argv: Seq[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "-i" :: v :: t      => go(t, a.copy(input = v))
      case "-o" :: v :: t      => go(t, a.copy(output = v))
      case "-ifmt" :: v :: t   => go(t, a.copy(ifmt = v))
      case "-ofmt" :: v :: t   => go(t, a.copy(ofmt = v))
      case "-cores" :: v :: t  => go(t, a.copy(cores = v.toInt))
      case "-mins" :: v :: t   => go(t, a.copy(config = a.config.copy(minSupport = v.toLong)))
      case "-minis" :: v :: t  => go(t, a.copy(config = a.config.copy(minInitialSupport = v.toLong)))
      case "-minhc" :: v :: t  => go(t, a.copy(config = a.config.copy(minHeadCoverage = v.toDouble)))
      // -pm selector (AMIE.java:853-867): "support" → Support, anything
      // else the reference silently treats as headcoverage
      case "-pm" :: v :: t     => go(t, a.copy(config = a.config.copy(
        pruningMetric = if (v.equalsIgnoreCase("support")) PruningMetric.Support
                        else PruningMetric.HeadCoverage)))
      case "-ompca" :: t       => go(t, a.copy(omitPca = true))
      case "-minpca" :: v :: t => go(t, a.copy(config = a.config.copy(minPcaConfidence = v.toDouble)))
      case "-minc" :: v :: t   => go(t, a.copy(config = a.config.copy(minStdConfidence = v.toDouble)))
      case "-maxad" :: v :: t  => go(t, a.copy(config = a.config.copy(maxDepth = v.toInt)))
      case "-rl" :: v :: t     => go(t, a.copy(config = a.config.copy(maxRelationOccurrence = v.toInt)))
      case "-const" :: t       => go(t, a.copy(config = a.config.copy(enableConstants = true)))
      case "-optimcb" :: t     => go(t, a)
      case ("-optimfh" | "-full") :: t =>
        go(t, a.copy(config = a.config.copy(enableFunctionalityHeuristic = true)))
      case "-htr" :: v :: t    => go(t, a.copy(config = a.config.copy(headTargetRelations = v.split(",").toSeq)))
      case "-hexr" :: v :: t   => go(t, a.copy(config = a.config.copy(headExcludedRelations = v.split(",").toSet)))
      case "-bexr" :: v :: t   => go(t, a.copy(config = a.config.copy(bodyExcludedRelations = v.split(",").toSet)))
      case "-bias" :: v :: t   => go(t, a.copy(biasName = v))
      case other :: _ => sys.error(s"unknown argument: $other\n$usage")
    }
    val a = go(argv.toList, Args())
    require(a.input.nonEmpty && a.output.nonEmpty, usage)
    a
  }

  private def loadKB(spark: SparkSession, a: Args): DataFrame =
    FactInput.load(spark, a.input, a.ifmt)

  /** Resolve a bias name against the loaded KB. May augment the KB
    * (seedsCount rides its seed-subject set in the KB as a synthetic
    * relation) and the config (`typed` is Default + constants restricted
    * to the type relation — that IS the typed assistant's rule space,
    * TypedDefaultMiningAssistant.java:25-80). */
  private[graft] def resolve(
      name: String, kb: DataFrame, config: MinerConfig): (DataFrame, MinerConfig) =
    name match {
      // lazy/lazit only bound the reference's denominator queries; the
      // emitted rules are the default bias's (see [[MiningBias]])
      case "default" | "lazy" | "lazit" => (kb, config.copy(bias = MiningBias.Default))
      case "oneVar"           => (kb, config.copy(bias = MiningBias.OneVar))
      case "anyburl"          => (kb, config.copy(bias = MiningBias.AnyBurl))
      case "instantiatedHead" => (kb, config.copy(bias = MiningBias.InstantiatedHead))
      case "existential"      => (kb, config.copy(bias = MiningBias.Existential))
      // the reference reaches this assistant only by FQCN reflection
      // (MiningAssistantFactory.java:48-73) — accept that spelling too
      case "existentialRules" |
           "amie.mining.assistant.experimental.ExistentialRulesMiningAssistant" =>
        (kb, config.copy(bias = MiningBias.ExistentialRules))
      case "seedsCount" =>
        // schema KB = the data KB itself in the single-input CLI (the
        // reference takes an optional second KB; pass one by unioning)
        val (augmented, n) = MiningBias.withSeedSubjects(kb, kb)
        (augmented, config.copy(bias = MiningBias.SeedsCount(n)))
      case "typed" =>
        (kb, config.copy(bias = MiningBias.Default, enableConstants = true,
          instantiationTargetRelations = Seq("rdf:type")))
      case "signatured" =>
        val (d, r) = Taxonomy.relationSignatures(kb)
        (kb, config.copy(bias = MiningBias.Signatured(d, r)))
      case other => sys.error(s"unknown bias: $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    // reuse a live session (spark-submit shell, tests) and leave its
    // lifecycle alone; otherwise create a local one and stop it on exit
    val preExisting = SparkSession.getDefaultSession.orElse(SparkSession.getActiveSession)
    val spark = preExisting.getOrElse {
      val builder = Sessions.tune(SparkSession.builder(), a.cores, "graft-mine")
      // under spark-submit the master comes from the submit command; only
      // fall back to local mode when none is configured
      if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
        builder.getOrCreate()
      else builder.master(s"local[${a.cores}]").getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (kb, config) = resolve(a.biasName, loadKB(spark, a), a.config)
      val t0     = System.nanoTime()
      val rules  = new Miner(kb, config).mine()
      val sec    = (System.nanoTime() - t0) / 1e9
      val df = a.ofmt match {
        case "tsv" if a.omitPca => RuleSink.toNoStdDF(spark, rules, omitStd = false, omitPca = true)
        case "tsv"              => RuleSink.toDF(spark, rules)
        case "datalog"          => RuleSink.toDatalogDF(spark, rules)
        case "reversedatalog"   => RuleSink.toReverseDatalogDF(spark, rules)
        case "anyburl"          => RuleSink.toAnyBurlDF(spark, rules)
        case other              => sys.error(s"unknown output format: $other")
      }
      df.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(a.output)
      System.err.println(f"[mine] ${rules.size} rules in $sec%.1f s -> ${a.output}")
    } finally if (preExisting.isEmpty) spark.stop()
  }
}
