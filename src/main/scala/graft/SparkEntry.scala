package graft

import graft.kb._
import graft.functions.{Dedup, Multimodal, Similarity, TextOps}
import graft.mine._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps each implemented operator of SURVEY.md §2 to a DataFrame
  * over the driver's TPC-H-ish parquet tables; `oracleSql` carries the
  * equivalent ANSI SQL the driver runs in DuckDB. Column names/aliases are
  * kept identical on both sides (the driver hash-compares by sorted column
  * name).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** A KB (subj, pred, obj) view over the TPC-H-ish tables, so the KG
    * engine's operators can be oracle-checked by DuckDB with plain SQL.
    * `orderCust`/`orderPriority` add a high-cardinality, skew-free fact
    * relation; `custNation`… are the dimension-style relations.
    *
    * Memoized + persisted per (session, dir): ~20 of the `queries`
    * derive from this view, and without the cache every one re-reads
    * four parquet tables and re-runs the 6-way union (measured ~10 s of
    * the sf0.1 sweep). MEMORY_AND_DISK: correctness never depends on the
    * cache, eviction just recomputes. */
  def tpchTriples(spark: SparkSession, dir: String): DataFrame = {
    // evict entries of stopped sessions — otherwise the map retains their
    // DataFrames (and plans) for the life of the JVM
    triplesCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    triplesCache.computeIfAbsent((spark, dir), _ =>
      tpchTriplesUncached(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private val triplesCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Memoized KG statistics of [[tpchTriples]] per (session, dir): one
    * stats job feeds the join-order + broadcast/fan-out hints of every
    * stats-aware query in the sweep (the same statistics-before-queries
    * posture the miner takes). */
  def tpchStats(spark: SparkSession, dir: String): KGStats = {
    statsCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    statsCache.computeIfAbsent((spark, dir),
      _ => KGStats.compute(tpchTriples(spark, dir)))
  }

  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), KGStats]()

  private def tpchTriplesUncached(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val supp = t(spark, dir, "supplier")
    val nat  = t(spark, dir, "nation")
    val ord  = t(spark, dir, "orders")
    val custNation = cust.select(
      concat(lit("c"), col("c_custkey")).as("subj"),
      lit("custNation").as("pred"),
      concat(lit("n"), col("c_nationkey")).as("obj"))
    val suppNation = supp.select(
      concat(lit("s"), col("s_suppkey")).as("subj"),
      lit("suppNation").as("pred"),
      concat(lit("n"), col("s_nationkey")).as("obj"))
    val nationRegion = nat.select(
      concat(lit("n"), col("n_nationkey")).as("subj"),
      lit("nationRegion").as("pred"),
      concat(lit("r"), col("n_regionkey")).as("obj"))
    val custRegion = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .select(
        concat(lit("c"), col("c_custkey")).as("subj"),
        lit("custRegion").as("pred"),
        concat(lit("r"), col("n_regionkey")).as("obj"))
    val orderCust = ord.select(
      concat(lit("o"), col("o_orderkey")).as("subj"),
      lit("orderCust").as("pred"),
      concat(lit("c"), col("o_custkey")).as("obj"))
    val orderPriority = ord.select(
      concat(lit("o"), col("o_orderkey")).as("subj"),
      lit("orderPriority").as("pred"),
      col("o_orderpriority").as("obj"))
    custNation.union(suppNation).union(nationRegion).union(custRegion)
      .union(orderCust).union(orderPriority)
  }

  /** Shared SQL prefix defining the same triples view for DuckDB. */
  private val triplesCte =
    """WITH triples AS (
      |  SELECT 'c' || c_custkey AS subj, 'custNation' AS pred, 'n' || c_nationkey AS obj FROM customer
      |  UNION ALL SELECT 's' || s_suppkey, 'suppNation', 'n' || s_nationkey FROM supplier
      |  UNION ALL SELECT 'n' || n_nationkey, 'nationRegion', 'r' || n_regionkey FROM nation
      |  UNION ALL SELECT 'c' || c_custkey, 'custRegion', 'r' || n_regionkey
      |    FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL SELECT 'o' || o_orderkey, 'orderCust', 'c' || o_custkey FROM orders
      |  UNION ALL SELECT 'o' || o_orderkey, 'orderPriority', o_orderpriority FROM orders
      |)""".stripMargin

  /** Schema-annotated KB for the Schema.getDomainSet /
    * getHistogramOnDomain queries: a multi-valued-per-subject data
    * relation (customer → priorities of their orders) plus inline
    * `rdf:type` / `rdfs:subClassOf` / `rdfs:domain` facts. Only ⅔ of
    * customers carry a type (so domainSet's observed-subjects union
    * matters) and BUILDING-segment customers are typed through a
    * subclass (so the closure matters). */
  private def schemaKb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val copr = t(s, dir, "orders").select(
      concat(lit("c"), col("o_custkey")).as("subj"),
      lit("custOrderPriority").as("pred"),
      col("o_orderpriority").as("obj")).distinct()
    val typed = t(s, dir, "customer").where(col("c_custkey") % 3 =!= 0).select(
      concat(lit("c"), col("c_custkey")).as("subj"),
      lit("rdf:type").as("pred"),
      when(col("c_mktsegment") === "BUILDING", lit("BuildingCustomer"))
        .otherwise(lit("Customer")).as("obj"))
    val schemaFacts = Seq(
      ("BuildingCustomer", "rdfs:subClassOf", "Customer"),
      ("custOrderPriority", "rdfs:domain", "Customer")).toDF("subj", "pred", "obj")
    copr.union(typed).union(schemaFacts)
  }

  /** Shared SQL prefix defining the same schema-annotated KB (plus its
    * subclass closure and typed-entity set) for DuckDB. */
  private val schemaKbCte =
    """WITH RECURSIVE kb(subj, pred, obj) AS (
      |  SELECT DISTINCT 'c' || o_custkey, 'custOrderPriority', o_orderpriority FROM orders
      |  UNION ALL SELECT 'c' || c_custkey, 'rdf:type',
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 'BuildingCustomer' ELSE 'Customer' END
      |    FROM customer WHERE c_custkey % 3 <> 0
      |  UNION ALL SELECT * FROM (VALUES
      |    ('BuildingCustomer', 'rdfs:subClassOf', 'Customer'),
      |    ('custOrderPriority', 'rdfs:domain', 'Customer')) v(a, b, c)),
      |clo(child, parent) AS (
      |  SELECT subj, obj FROM kb WHERE pred = 'rdfs:subClassOf'
      |  UNION
      |  SELECT c.child, e.obj FROM clo c
      |  JOIN kb e ON c.parent = e.subj AND e.pred = 'rdfs:subClassOf'),
      |typed AS (
      |  SELECT DISTINCT subj AS entity FROM kb
      |  WHERE pred = 'rdf:type'
      |    AND (obj = 'Customer' OR obj IN (SELECT child FROM clo WHERE parent = 'Customer')))""".stripMargin

  // ---- link-prediction fixture (inference/linkprediction.py flow) ----
  // Deterministic train/test split of the tpch KB: every 5th custRegion
  // subject-hash and every 7th custNation subject-hash are held out as
  // test facts; train is a pure FILTER of the KB (no join). Two fixed
  // rules with fixed confidences: the sound region rule (R1) and its
  // noisy inverse (R2 — a region determines 5 candidate nations, so
  // ranking exercises equal-score lexicographic tie-breaks).
  private val lpHash = "cast(conv(substring(md5(subj), 1, 8), 16, 10) as bigint)"
  private def lpIsTest =
    (col("pred") === "custRegion" && expr(lpHash) % 5 === 0) ||
      (col("pred") === "custNation" && expr(lpHash) % 7 === 0)
  private val lpRules: Seq[(Rule, Double)] = Seq(
    RuleParser.parseRule("?x custNation ?n ?n nationRegion ?r => ?x custRegion ?r") -> 0.9,
    RuleParser.parseRule("?x custRegion ?r ?n nationRegion ?r => ?x custNation ?n") -> 0.2)

  /** SQL mirror: train/test split, per-rule joins, max aggregation. */
  private val lpCte =
    s"""$triplesCte,
       |h AS (SELECT subj, pred, obj,
       |        CAST(('0x' || substr(md5(subj), 1, 8)) AS BIGINT) AS hh FROM triples),
       |test AS (SELECT subj, pred, obj FROM h
       |  WHERE (pred = 'custRegion' AND hh % 5 = 0)
       |     OR (pred = 'custNation' AND hh % 7 = 0)),
       |train AS (SELECT subj, pred, obj FROM h
       |  WHERE NOT (pred = 'custRegion' AND hh % 5 = 0)
       |    AND NOT (pred = 'custNation' AND hh % 7 = 0)),
       |p1 AS (SELECT DISTINCT a.subj AS subj, 'custRegion' AS pred, b.obj AS obj,
       |        CAST(0.9 AS DOUBLE) AS conf
       |  FROM train a JOIN train b ON a.obj = b.subj
       |  WHERE a.pred = 'custNation' AND b.pred = 'nationRegion'),
       |p2 AS (SELECT DISTINCT a.subj AS subj, 'custNation' AS pred, b.subj AS obj,
       |        CAST(0.2 AS DOUBLE) AS conf
       |  FROM train a JOIN train b ON a.obj = b.obj
       |  WHERE a.pred = 'custRegion' AND b.pred = 'nationRegion')""".stripMargin

  /** preds CTE: max (noisy-max double) vs maxplus (descending DOUBLE
    * list — DuckDB lists compare lexicographically, same as Spark
    * arrays, so ONE ranking SQL serves both aggregations). */
  private def lpPredsCte(maxplus: Boolean) =
    if (maxplus)
      """preds AS (SELECT subj, pred, obj, list(conf ORDER BY conf DESC) AS conf
        |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) GROUP BY 1, 2, 3)""".stripMargin
    else
      """preds AS (SELECT subj, pred, obj, max(conf) AS conf
        |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) GROUP BY 1, 2, 3)""".stripMargin

  /** The two-direction filtered-rank histogram over `preds`. */
  private def lpRankSql(maxplus: Boolean) =
    s"""$lpCte,
       |${lpPredsCte(maxplus)},
       |fc AS (SELECT p.* FROM preds p WHERE NOT EXISTS
       |  (SELECT 1 FROM triples k
       |   WHERE k.subj = p.subj AND k.pred = p.pred AND k.obj = p.obj)),
       |ts AS (SELECT t.subj, t.pred, t.obj, p.conf AS tconf FROM test t
       |  LEFT JOIN preds p
       |    ON p.subj = t.subj AND p.pred = t.pred AND p.obj = t.obj),
       |bt AS (SELECT s.subj, s.pred, s.obj, count(*) AS nb FROM ts s
       |  JOIN fc c ON c.subj = s.subj AND c.pred = s.pred AND c.obj <> s.obj
       |    AND (c.conf > s.tconf OR (c.conf = s.tconf AND c.obj < s.obj))
       |  WHERE s.tconf IS NOT NULL GROUP BY 1, 2, 3),
       |tailr AS (SELECT 'tail' AS direction, s.pred,
       |    CASE WHEN s.tconf IS NULL THEN 0 ELSE coalesce(b.nb, 0) + 1 END AS rnk
       |  FROM ts s LEFT JOIN bt b
       |    ON b.subj = s.subj AND b.pred = s.pred AND b.obj = s.obj),
       |bh AS (SELECT s.subj, s.pred, s.obj, count(*) AS nb FROM ts s
       |  JOIN fc c ON c.pred = s.pred AND c.obj = s.obj AND c.subj <> s.subj
       |    AND (c.conf > s.tconf OR (c.conf = s.tconf AND c.subj < s.subj))
       |  WHERE s.tconf IS NOT NULL GROUP BY 1, 2, 3),
       |headr AS (SELECT 'head' AS direction, s.pred,
       |    CASE WHEN s.tconf IS NULL THEN 0 ELSE coalesce(b.nb, 0) + 1 END AS rnk
       |  FROM ts s LEFT JOIN bh b
       |    ON b.subj = s.subj AND b.pred = s.pred AND b.obj = s.obj)
       |SELECT direction, pred, rnk, count(*) AS cnt
       |FROM (SELECT * FROM tailr UNION ALL SELECT * FROM headr)
       |GROUP BY 1, 2, 3""".stripMargin

  /** Flagship: the full north-star path in one call — deterministic
    * interleaved-doc corpus → KG-construction pipeline (mention detect,
    * CC canonicalization, link scoring, bucketed materialize) → AMIE-style
    * rule mining over the constructed graph. Returns the scored-rule
    * table (driver checks rows > 0); the corpus plants
    * `worksAt(x,t) ∧ isLocatedIn(t,c) ⇒ livesIn(x,c)`, which mining
    * recovers at PCA confidence 1.0 (asserted in E2ESpec). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val p   = new graft.pipeline.Pipeline(spark, dir, nBuckets = 8)
    p.run(graft.pipeline.Corpus.generate(spark, 1200, 120),
      inputFp = Some("entry:1200:120"))
    val rules = new Miner(
      p.triples(),
      MinerConfig(minSupport = 5, minHeadCoverage = 0.05, minPcaConfidence = 0.5)).mine()
    rules.map(s => (s.rule.amieString, s.headCoverage, s.stdConfidence,
      s.pcaConfidence, s.support, s.bodySize, s.pcaBodySize, s.functionalVariable))
      .toDF("rule", "head_coverage", "std_confidence", "pca_confidence",
        "support", "body_size", "pca_body_size", "functional_variable")
  }

  /** A 4-relation KB with genuinely entailed depth-2 rules, for the
    * fully-SQL-oracled mining run: a base relation, an entailed subset
    * (positive-balance customers), its inverse, and an unrelated
    * relation that seeds but never closes. The TPC-H dimension triples
    * have pairwise-disjoint (subj, obj) namespaces, so 2-atom rules
    * over them are all support-0 — this view is what makes the depth-2
    * search's output non-vacuous and SQL-checkable. */
  def miningKB(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val nat  = t(spark, dir, "nation")
    val r1 = cust.select(concat(lit("c"), col("c_custkey")).as("subj"),
      lit("custNation").as("pred"), concat(lit("n"), col("c_nationkey")).as("obj"))
    val r2 = cust.where(col("c_acctbal") >= 0)
      .select(concat(lit("c"), col("c_custkey")).as("subj"),
        lit("custNationAcct").as("pred"), concat(lit("n"), col("c_nationkey")).as("obj"))
    val r3 = cust.select(concat(lit("n"), col("c_nationkey")).as("subj"),
      lit("nationCust").as("pred"), concat(lit("c"), col("c_custkey")).as("obj"))
    val r4 = nat.select(concat(lit("n"), col("n_nationkey")).as("subj"),
      lit("nationRegion").as("pred"), concat(lit("r"), col("n_regionkey")).as("obj"))
    r1.union(r2).union(r3).union(r4)
  }

  // shared query atoms
  private val custNat  = Atom(Var("c"), Const("custNation"), Var("n"))
  private val natReg   = Atom(Var("n"), Const("nationRegion"), Var("r"))
  private val custReg  = Atom(Var("c"), Const("custRegion"), Var("r"))
  private val ordCust  = Atom(Var("o"), Const("orderCust"), Var("c"))
  private val urgent   = Atom(Var("o"), Const("orderPriority"), Const("1-URGENT"))
  private val ordCust2 = Atom(Var("o2"), Const("orderCust"), Var("c"))
  private val urgent2  = Atom(Var("o2"), Const("orderPriority"), Const("1-URGENT"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 stats pass: relationSize / relationColumnSize / functionality
    "kb_stats" -> ((s, dir) => KGStats.statsDF(tpchTriples(s, dir))),

    // ---- §2.10 metric layer: support / bodySize / pcaBodySize / confidences
    "kb_rule_metrics" -> { (s, dir) =>
      import s.implicits._
      val kb = tpchTriples(s, dir).cache()
      val m  = new Metrics(kb, KGStats.compute(kb))
      val sc = m.score(Rule(custReg, List(custNat, natReg)))
      Seq((sc.support, sc.bodySize, sc.pcaBodySize, sc.stdConfidence, sc.pcaConfidence))
        .toDF("support", "body_size", "pca_body_size", "std_confidence", "pca_confidence")
    },

    // ---- §2.2 single-pattern selection: bindings of one variable
    "kb_select_one_var" -> { (s, dir) =>
      QueryBuilder.selectDistinct(
        tpchTriples(s, dir), Seq(Var("x")),
        Seq(Atom(Var("x"), Const("custNation"), Const("n1"))))
        .withColumnRenamed("x", "subj")
    },

    // ---- §2.3 conjunctive join: customers with a supplier in the same nation
    "kb_join_two_atoms" -> { (s, dir) =>
      // stats-aware: the 25-nation hub join broadcasts the supplier atom
      // and repartitions the fan-out stream side (see QueryBuilder hints)
      QueryBuilder.selectDistinct(
        tpchTriples(s, dir), Seq(Var("c"), Var("sp")),
        Seq(Atom(Var("c"), Const("custNation"), Var("n")),
          Atom(Var("sp"), Const("suppNation"), Var("n"))),
        Some(tpchStats(s, dir)))
        .select(col("c").as("cust"), col("sp").as("supp"))
    },

    // ---- §2.4 countBindings: histogram of customers per nation
    "kb_count_bindings" -> { (s, dir) =>
      Ops.countBindings(tpchTriples(s, dir), Var("n"), Seq(custNat))
        .select(col("n").as("nation"), col("cnt"))
    },

    // ---- §2.4 frequentBindingsOf: per region, #distinct customers
    "kb_frequent_bindings" -> { (s, dir) =>
      Ops.frequentBindingsOf(tpchTriples(s, dir), Var("r"), Var("c"), Seq(custNat, natReg))
        .select(col("r").as("region"), col("cnt").as("cust_cnt"))
    },

    // ---- §2.4 countProjectionBindings: per nation, #head (c,r) instantiations
    "kb_count_projection" -> { (s, dir) =>
      Ops.countProjectionBindings(tpchTriples(s, dir), custReg, Seq(custNat, natReg), Var("n"))
        .select(col("n").as("nation"), col("cnt").as("head_cnt"))
    },

    // ---- §2.3 difference: customers with an order but no URGENT order
    "kb_difference" -> { (s, dir) =>
      Ops.difference(tpchTriples(s, dir), Seq(Var("c")),
        Seq(ordCust), Seq(ordCust2, urgent2))
        .select(col("c").as("cust"))
    },

    // ---- §2.2 meta-relation exists: customers with ≥1 URGENT order
    "kb_exists" -> { (s, dir) =>
      Ops.selectWhereExists(tpchTriples(s, dir), Seq(Var("c")),
        Seq(custNat), Seq(ordCust2, urgent2))
        .select(col("c").as("cust"))
    },

    // ---- §2.2 meta-relation ~exists: customers with no URGENT order
    "kb_not_exists" -> { (s, dir) =>
      Ops.selectWhereNotExists(tpchTriples(s, dir), Seq(Var("c")),
        Seq(custNat), Seq(ordCust2, urgent2))
        .select(col("c").as("cust"))
    },

    // ---- §2.4 cardinality histogram + right-cumulative (orders per customer)
    "kb_cardinality_hist" -> { (s, dir) =>
      Ops.cardinalityHistogram(tpchTriples(s, dir), "obj", "subj")
        .select(col("pred"), col("n"), col("keys"), col("cum_keys"))
    },

    // ---- §2.4 variance of values-per-key per relation
    "kb_variance" -> { (s, dir) =>
      Ops.varianceOfCounts(tpchTriples(s, dir), "obj", "subj")
    },

    // ---- §2.4 overlap tables: |subj(r1) ∩ subj(r2)|
    "kb_overlaps" -> { (s, dir) =>
      KGStats.overlaps(tpchTriples(s, dir), "subj", "subj")
        .select(col("p1"), col("p2"), col("overlap"))
    },

    // ---- §2.5 decreasingKeys: relations with ≥100 facts, largest first
    "kb_relations_by_size" -> { (s, dir) =>
      Ops.relationsBySize(tpchTriples(s, dir), 100L)
    },

    // ---- §2.5 bounded distinct-pair count (early-stop denominator)
    "kb_pairs_upto" -> { (s, dir) =>
      import s.implicits._
      val n = Ops.countDistinctUpTo(tpchTriples(s, dir), 1000L,
        Seq(Var("c"), Var("r")), Seq(custNat, natReg))
      Seq(n).toDF("n")
    },

    // ---- §2.2 contains(fact)
    "kb_contains" -> { (s, dir) =>
      import s.implicits._
      Seq(Ops.containsFact(tpchTriples(s, dir), "n1", "nationRegion", "r1"))
        .toDF("contains")
    },

    // ---- §2.1 taxonomy closure: custNation ∪ nationRegion as partOf edges
    "kb_taxonomy_closure" -> { (s, dir) =>
      val t = tpchTriples(s, dir)
      val edges = t.where(col("pred").isin("custNation", "nationRegion"))
        .select(col("subj").as("child"), col("obj").as("parent"))
      Taxonomy.transitiveClosure(edges)
    },

    // ---- §2.2 cardinality pseudo-relation: customers with > 10 orders
    "kb_card_gt" -> { (s, dir) =>
      Ops.entitiesByValueCount(tpchTriples(s, dir), "orderCust",
        inverse = true, op = ">", n = 10)
    },

    // ---- §2.2 INLINE cardinality meta-atom (KB.java:928-1063 placement
    // freedom): nations of customers with > 10 orders — the
    // hasNumberOfValuesGreaterThanInv10 atom rides inside the conjunction
    "kb_card_inline" -> { (s, dir) =>
      QueryBuilder.selectDistinct(tpchTriples(s, dir), Seq(Var("c"), Var("n")),
        Seq(custNat,
          Atom(Var("c"), Const("hasNumberOfValuesGreaterThanInv10"),
            Const("orderCust"))))
        .select(col("c").as("cust"), col("n").as("nation"))
    },

    // ---- §2.2 INLINE cardinality SmallerThan: customers with 1-2 orders
    // (universe = obj-position entities, KB.java:1036-1054)
    "kb_card_small_inline" -> { (s, dir) =>
      QueryBuilder.selectDistinct(tpchTriples(s, dir), Seq(Var("c")),
        Seq(custNat,
          Atom(Var("c"), Const("hasNumberOfValuesSmallerThanInv3"),
            Const("orderCust"))))
        .select(col("c").as("cust"))
    },

    // ---- §2.2 INLINE ~existsInv meta-atom: nations never an orderCust
    // object (exercises the obj-universe complement, KB.java:982-993)
    "kb_not_exists_inline" -> { (s, dir) =>
      QueryBuilder.selectDistinct(tpchTriples(s, dir), Seq(Var("n")),
        Seq(natReg,
          Atom(Const("orderCust"), Const(Atom.NotExistsInv), Var("n"))))
        .select(col("n").as("nation"))
    },

    // ---- §2.3 connected-subgraph existential rewrite
    //      (KB.java:3026-3058): nations+customers where the customer has
    //      an urgent order — the 2-atom witness chain orderCust(o,c) ∧
    //      orderPriority(o,URGENT) hangs off c through the single
    //      articulation variable and is collapsed to a semi-join BEFORE
    //      the join (PlanSpec asserts the shape; this entry oracles it)
    "kb_witness_subgraph" -> { (s, dir) =>
      QueryBuilder.selectDistinct(tpchTriples(s, dir), Seq(Var("c"), Var("n")),
        Seq(custNat, ordCust, urgent), Some(tpchStats(s, dir)))
        .select(col("c").as("cust"), col("n").as("nation"))
    },

    // ---- §2.2 differentFrom pseudo-atom: supplier pairs in one nation
    "kb_different_from" -> { (s, dir) =>
      QueryBuilder.selectDistinct(
        tpchTriples(s, dir), Seq(Var("s1"), Var("s2")),
        Seq(Atom(Var("s1"), Const("suppNation"), Var("n")),
          Atom(Var("s2"), Const("suppNation"), Var("n")),
          Atom(Var("s1"), Const(Atom.DifferentFrom), Var("s2"))),
        Some(tpchStats(s, dir)))
        .select(col("s1"), col("s2"))
    },

    // ---- §2.6 set ops: union / intersect of entity sets
    "kb_union" -> { (s, dir) =>
      val t = tpchTriples(s, dir)
      t.where(col("pred") === "custNation").select(col("subj").as("entity"))
        .union(t.where(col("pred") === "suppNation").select(col("subj").as("entity")))
        .distinct()
    },
    "kb_intersect" -> { (s, dir) =>
      val t = tpchTriples(s, dir)
      t.where(col("pred") === "orderCust").select(col("obj").as("entity")).distinct()
        .intersect(
          t.where(col("pred") === "custNation" && col("obj") === "n1")
            .select(col("subj").as("entity")))
    },

    // ---- §2.7 scalar surface: label@lang split (MultilingualKB.java:11-23)
    "kb_lang_split" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 20), lit("@"), col("lang")).as("label"))
        .select(col("doc_id"),
          regexp_extract(col("label"), "^(.*)@([a-z]+)$", 1).as("label_text"),
          regexp_extract(col("label"), "^(.*)@([a-z]+)$", 2).as("label_lang"))
    },

    // ---- §2.9 full mining run over the dimension subgraph (rows-only
    //      check: the BFS search is not SQL-expressible; its metric layer
    //      is oracle-checked by kb_rule_metrics)
    // ---- §2.1 typing KB (SimpleTypingKB): class/relation entity-set
    //      view; the core probe is |entities(cls) ∩ entities(rel)|
    "kb_typing_overlap" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val typeFacts = ev.select(
        concat(lit("u"), col("user_id")).as("subj"),
        lit("rdf:type").as("pred"), col("event_type").as("obj"))
      val relFacts = ev.select(
        concat(lit("u"), col("user_id")).as("subj"),
        concat(lit("did_"), col("event_type")).as("pred"),
        concat(lit("e"), col("event_id")).as("obj"))
      TypingKB.classRelationOverlap(
        TypingKB.fromTriples(typeFacts.union(relFacts)))
    },

    // ---- §2.1 multilingual fact rewriting (MultilingualKB load hook):
    //      label@lang objects spawn <label>/<lang> facts
    "kb_multilingual" -> { (s, dir) =>
      val facts = t(s, dir, "documents").select(
        concat(lit("d"), col("doc_id")).as("subj"),
        lit("hasLabel").as("pred"),
        concat(substring(col("text"), 1, 20), lit("@"), col("lang")).as("obj"))
      graft.sources.LangFacts.splitLangLiterals(facts)
    },

    // ---- §2.6 batch append/retract with set semantics (KB delete +
    //      index maintenance re-expressed as anti-join ∪ additions)
    "kb_delta" -> { (s, dir) =>
      val kb   = tpchTriples(s, dir)
      val dels = kb.where(col("pred") === "custNation" && col("obj") === "n1")
      val adds = t(s, dir, "customer").where(col("c_custkey") <= 50)
        .select(concat(lit("c"), col("c_custkey")).as("subj"),
          lit("custSegment").as("pred"), col("c_mktsegment").as("obj"))
      KBDelta(kb, adds, dels)
    },

    // ---- §2.9/§2.10 depth-2 mining run, FULLY SQL-oracled: at
    //      maxDepth=2 the BFS degenerates to closing-only refinement, so
    //      the emitted rule set and all 12 output columns are expressible
    //      as relation-pair enumeration in SQL (both orientations,
    //      support/HC/std/PCA thresholds, functional-variable choice).
    //      kb_mined_rules below keeps exercising the depth-3 search.
    "kb_mined_rules_d2" -> { (s, dir) =>
      // assumeDistinct: every miningKB branch emits one row per unique
      // source key and the branches carry distinct predicates
      val rules = new Miner(miningKB(s, dir),
        MinerConfig(minSupport = 20, minHeadCoverage = 0.05,
          minPcaConfidence = 0.5, maxDepth = 2, assumeDistinct = true)).mine()
      RuleSink.toDF(s, rules)
    },

    "kb_mined_rules" -> { (s, dir) =>
      val dims = tpchTriples(s, dir)
        .where(col("pred").isin("custNation", "suppNation", "nationRegion", "custRegion"))
      // assumeDistinct: each branch of tpchTriples emits one row per
      // unique key (customer/supplier/nation) and predicates differ
      val rules = new Miner(dims,
        MinerConfig(minSupport = 20, minHeadCoverage = 0.05,
          minPcaConfidence = 0.5, assumeDistinct = true)).mine()
      // Self-gating (depth-3 BFS is not SQL-expressible, so no DuckDB
      // oracle — instead the entry refuses to return unless the planted
      // depth-3 rule custNation(c,n) ∧ nationRegion(n,r) ⇒ custRegion(c,r)
      // was recovered with metrics matching an INDEPENDENT raw-SQL
      // computation over the same dims KB, and every emitted rule
      // satisfies the mining thresholds.
      rules.foreach { r =>
        require(r.support >= 20 && r.headCoverage >= 0.05 - 1e-12 &&
          r.pcaConfidence >= 0.5 - 1e-12,
          s"emitted rule violates thresholds: $r")
      }
      val planted = Rule(
        Atom(Var("c"), Const("custRegion"), Var("r")),
        List(Atom(Var("c"), Const("custNation"), Var("n")),
          Atom(Var("n"), Const("nationRegion"), Var("r"))))
      val got = rules.find(_.rule.canonical == planted.canonical).getOrElse(
        sys.error("planted depth-3 rule not recovered: " + planted.amieString))
      dims.createOrReplaceTempView("mined_dims_check")
      // one aggregation pass: body rows are distinct and both marker
      // tables are distinct on their join keys, so the left joins add at
      // most one match per row — counting matched rows equals counting
      // matched distinct pairs (3 scalar subqueries = 3 Spark jobs
      // otherwise)
      val exp = s.sql(
        """WITH cn AS (SELECT subj c, obj n FROM mined_dims_check WHERE pred='custNation'),
          |     nr AS (SELECT subj n, obj r FROM mined_dims_check WHERE pred='nationRegion'),
          |     cr AS (SELECT subj c, obj r FROM mined_dims_check WHERE pred='custRegion'),
          |     body AS (SELECT DISTINCT cn.c, nr.r FROM cn JOIN nr ON cn.n = nr.n),
          |     crp AS (SELECT DISTINCT c, r FROM cr),
          |     crs AS (SELECT DISTINCT c FROM cr)
          |SELECT
          |  count(CASE WHEN p.c IS NOT NULL THEN 1 END) AS support,
          |  count(*) AS body_size,
          |  count(CASE WHEN s.c IS NOT NULL THEN 1 END) AS pca_body_size
          |FROM body b
          |LEFT JOIN crp p ON b.c = p.c AND b.r = p.r
          |LEFT JOIN crs s ON b.c = s.c
          |""".stripMargin).head()
      require(got.support == exp.getLong(0) && got.bodySize == exp.getLong(1) &&
        got.pcaBodySize == exp.getLong(2),
        s"planted-rule metrics mismatch: mined (${got.support}, ${got.bodySize}, " +
          s"${got.pcaBodySize}) vs independent SQL (${exp.getLong(0)}, " +
          s"${exp.getLong(1)}, ${exp.getLong(2)})")
      // Full-SET equality gate (r4 verdict #4): at correctness scale the
      // dims KB fits on the driver, so the whole depth-3 search is
      // re-run by the brute-force in-memory RefMiner (an independent
      // implementation: naive backtracking counts, none of the Spark
      // plan machinery) and the rule SETS must match exactly — any
      // spurious extra or missing rule fails the entry, not just the
      // planted rule. The limit(N+1) collect bounds driver memory: at
      // bench scale (sf0.1, ~31k triples) the gate self-skips and the
      // planted-rule + threshold assertions above still apply.
      val refGateMax = 10000
      val small = dims.select("subj", "pred", "obj").limit(refGateMax + 1).collect()
      if (small.length <= refGateMax) {
        val ref = graft.mine.RefMiner.mine(
          small.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))),
          MinerConfig(minSupport = 20, minHeadCoverage = 0.05,
            minPcaConfidence = 0.5)).map(sr => sr.rule.canonical -> sr).toMap
        val mined = rules.map(sr => sr.rule.canonical -> sr).toMap
        require(mined.keySet == ref.keySet,
          s"mined rule set differs from brute-force reference: " +
            s"extra=${(mined.keySet -- ref.keySet).mkString("; ")} " +
            s"missing=${(ref.keySet -- mined.keySet).mkString("; ")}")
        for ((c, m) <- mined; r = ref(c)) require(
          m.support == r.support && m.bodySize == r.bodySize &&
            m.pcaBodySize == r.pcaBodySize &&
            math.abs(m.pcaConfidence - r.pcaConfidence) < 1e-9 &&
            math.abs(m.headCoverage - r.headCoverage) < 1e-9,
          s"metrics differ from brute-force reference for $c: " +
            s"mined(${m.support},${m.bodySize},${m.pcaBodySize}) vs " +
            s"ref(${r.support},${r.bodySize},${r.pcaBodySize})")
      }
      RuleSink.toDF(s, rules)
    },

    // ---- §2.3 boolean exists (existsBS1)
    "kb_exists_bool" -> { (s, dir) =>
      import s.implicits._
      Seq(Ops.existsQuery(tpchTriples(s, dir), Seq(custNat, natReg)),
        Ops.existsQuery(tpchTriples(s, dir),
          Seq(Atom(Var("x"), Const("custNation"), Const("n999")))))
        .toDF("sat")
    },

    // ---- §2.4 class intersections (user "types" = event kinds they have)
    "kb_type_intersections" -> { (s, dir) =>
      Ops.classIntersections(
        t(s, dir, "events").select(col("user_id").as("entity"), col("event_type").as("cls")))
    },

    // ---- §2.4 overlap tables, subject–object position
    "kb_overlaps_so" -> { (s, dir) =>
      KGStats.overlaps(tpchTriples(s, dir), "subj", "obj")
        .select(col("p1"), col("p2"), col("overlap"))
    },

    // ---- §2.4 entity occurrence counts (KB.getEntitiesOccurrences)
    "kb_entity_occurrences" -> { (s, dir) =>
      val t = tpchTriples(s, dir)
      t.select(col("subj").as("entity"))
        .union(t.select(col("obj").as("entity")))
        .groupBy("entity").agg(count(lit(1)).as("occurrences"))
        .where(col("occurrences") >= 20)
    },

    // ---- §2.3 new-entities view (KB.newEntities: facts touching entities
    //      unseen in a base KB — here: orders of customers outside nation n1)
    "kb_new_entities" -> { (s, dir) =>
      val t    = tpchTriples(s, dir)
      val base = t.where(col("pred") === "custNation" && col("obj") === "n1")
        .select(col("subj").as("obj"))
      t.where(col("pred") === "orderCust")
        .join(base, Seq("obj"), "left_anti")
        .select(col("subj"), col("pred"), col("obj"))
    },

    // ---- §2.1/§2.11 schema: relation domain/range with subPropertyOf
    //      inheritance (Schema.java:415-458) over an rdfs-annotated KB
    "kb_rel_signatures" -> { (s, dir) =>
      import s.implicits._
      val schemaFacts = Seq(
        ("custNation", "rdfs:domain", "Customer"),
        ("custNation", "rdfs:range", "Nation"),
        ("suppNation", "rdfs:domain", "Supplier"),
        ("suppNation", "rdfs:range", "Nation"),
        ("nationRegion", "rdfs:domain", "Nation"),
        ("nationRegion", "rdfs:range", "Region"),
        ("custRegion", "rdfs:subPropertyOf", "custNation"))
        .toDF("subj", "pred", "obj")
      val kb = tpchTriples(s, dir).union(schemaFacts)
      val (d, r) = Taxonomy.relationSignatures(kb)
      (d.keySet ++ r.keySet).toSeq.sorted
        .map(rel => (rel, d.get(rel).orNull, r.get(rel).orNull))
        .toDF("rel", "dom", "rng")
    },

    // ---- §2.11 schema: getDomainSet (Schema.java:608-621) — declared
    //      domain-class instances ∪ observed subjects, here with the
    //      subclass-ENTAILED type scan (the deliberate closure superset;
    //      see Taxonomy.domainSet's subclassClosure note). The KB types
    //      only ⅔ of customers, so both branches contribute, and
    //      BUILDING customers are typed through a subclass so the
    //      closure matters.
    "kb_domain_set" -> ((s, dir) =>
      Taxonomy.domainSet(schemaKb(s, dir), "custOrderPriority",
        subclassClosure = true)),

    // ---- §2.11 schema: getDomainSet at exact reference parity —
    //      getAllEntitiesForType is a DIRECT rdf:type lookup
    //      (Schema.java:575-585, no closure), so BUILDING-subclass-typed
    //      customers enter only through the observed-subject branch here
    "kb_domain_set_direct" -> ((s, dir) =>
      Taxonomy.domainSet(schemaKb(s, dir), "custOrderPriority")),

    // ---- §2.2 INLINE transitiveType meta-atom (KB.java:929-944
    //      TRANSITIVETYPEbs placement freedom): urgent-priority
    //      customers typed Customer directly OR through a subclass —
    //      the transitiveType atom rides inside the conjunction
    "kb_transitive_type_inline" -> { (s, dir) =>
      QueryBuilder.selectDistinct(schemaKb(s, dir), Seq(Var("c")),
        Seq(Atom(Var("c"), Const("custOrderPriority"), Const("1-URGENT")),
          Atom(Var("c"), Const(Atom.TransitiveType), Const("Customer"))))
        .select(col("c").as("cust"))
    },

    // ---- §2.11 schema: getHistogramOnDomain (Schema.java:742-779) —
    //      facts-per-entity distribution on the relation's functional
    //      side, restricted to declared-domain-typed entities (entailed
    //      type scan, matching kb_domain_set above)
    "kb_histogram_domain" -> { (s, dir) =>
      val kb = schemaKb(s, dir)
      // stats narrowed to the queried relation: histogramOnDomain reads
      // only custOrderPriority's (inverse)functionality, so the stats job
      // need not scan the typed-customer branch of the KB
      Taxonomy.histogramOnDomain(kb, "custOrderPriority",
        KGStats.compute(kb.where(col("pred") === "custOrderPriority")),
        subclassClosure = true)
    },

    // ---- inference: rule application / KG completion
    //      (linkprediction.py flow) — fixed rules on the train split,
    //      max-aggregated, predictions not already train facts
    "kb_rule_predictions" -> { (s, dir) =>
      val train = tpchTriples(s, dir).where(!lpIsTest)
      RuleApply.newPredictions(train, lpRules)
    },

    // ---- inference: filtered-ranking link prediction — per
    //      (direction, predicate) rank histogram of the held-out facts;
    //      rnk 0 = target never predicted (unranked). Integer-only
    //      output keeps the oracle hash exact; MRR/hits@k are
    //      RuleApply.evaluate (spec'd, derivable from this histogram).
    "kb_link_prediction" -> { (s, dir) =>
      val kb    = tpchTriples(s, dir)
      val train = kb.where(!lpIsTest)
      val test  = kb.where(lpIsTest)
      // the prediction table feeds 3 consumers (the shared target scores
      // + a candidate branch per direction) — materialize it once (at cluster scale
      // this is the "write the predictions table, then rank against it"
      // two-job shape)
      val preds = RuleApply.predictions(train, lpRules).localCheckpoint()
      RuleApply.rankedBothDirections(preds, test, kb)
        .select(col("direction"), col("pred"),
          coalesce(col("rank"), lit(0L)).as("rnk"))
        .groupBy("direction", "pred", "rnk")
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- inference: the same ranking under maxplus (linkprediction.py's
    //      default aggregation) — scores are descending confidence
    //      VECTORS compared lexicographically, so a triple backed by
    //      more rules outranks an equal-max single-rule one. Oracled:
    //      DuckDB lists compare lexicographically too.
    "kb_link_prediction_maxplus" -> { (s, dir) =>
      val kb    = tpchTriples(s, dir)
      val train = kb.where(!lpIsTest)
      val test  = kb.where(lpIsTest)
      val preds = RuleApply.scoredPredictions(train, lpRules).localCheckpoint()
      RuleApply.rankedBothDirections(preds, test, kb)
        .select(col("direction"), col("pred"),
          coalesce(col("rank"), lit(0L)).as("rnk"))
        .groupBy("direction", "pred", "rnk")
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- §2.1 dictionary: deterministic dense ids + encode round-trip
    "kb_dictionary" -> ((s, dir) => Dictionary.build(tpchTriples(s, dir))),
    "kb_encoded" -> { (s, dir) =>
      val triples = tpchTriples(s, dir)
      Dictionary.encode(triples, Dictionary.build(triples))
    },

    // ---- composed near-dup flow: LSH candidates → exact-Jaccard verify
    //      → connected components → keeper per cluster
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(t(s, dir, "documents"), minJaccard = 0.3)),

    // ===== event-stream operators (windowed computations) =====
    "events_sessionize" -> ((s, dir) =>
      graft.functions.Events.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .select(col("event_id"), col("user_id"), col("session_seq"))),
    "events_session_stats" -> ((s, dir) =>
      graft.functions.Events.sessionStats(t(s, dir, "events"), gapMinutes = 30)),

    // ===== training-data pipeline operators (documents / embeddings) =====
    "text_lang_id"      -> ((s, dir) => TextOps.langId(t(s, dir, "documents"))),
    "text_quality"      -> ((s, dir) => TextOps.quality(t(s, dir, "documents"))),
    "text_token_counts" -> ((s, dir) => TextOps.tokenCounts(t(s, dir, "documents"))),
    "text_fingerprint"  -> ((s, dir) => TextOps.fingerprint(t(s, dir, "documents"))),
    "text_simhash"      -> ((s, dir) => Dedup.simhash(t(s, dir, "documents"))),
    "dedup_exact"       -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), minJaccard = 0.3,
        maxShingleDF = 50)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(t(s, dir, "documents"))),
    // maxHamming = 3 < SimBands keeps the banded candidate join EXACT
    // (recall 1.0), so the all-pairs DuckDB oracle independently verifies
    // the bucketed implementation
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3)),
    // cluster-keeper scale path: one row per doc instead of the
    // output-quadratic pair list. maxBucket 512 > the measured max band
    // occupancy at sf0.01 (301), so no bucket overflows and the all-pairs
    // CC oracle applies exactly; overflow behavior is spec'd separately
    "dedup_simhash_clusters" -> ((s, dir) =>
      Dedup.simhashClusters(t(s, dir, "documents"), maxHamming = 3,
        maxBucket = 512)),
    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDups(t(s, dir, "embeddings"), minCosine = 0.3)),
    "sim_bruteforce_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), nQueries = 10, k = 5)),
    "sim_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), bands = 2, planes = 8, k = 3)),
    // IVF inverted-list ANN, the second scale path: deterministic coarse
    // quantizer keeps the oracle exact (see Similarity.ivfTopK)
    "sim_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), nLists = 16, nProbe = 4,
        nQueries = 10, k = 5)),
    "media_stats" -> ((s, dir) =>
      Multimodal.mediaStats(Multimodal.assetsFromDocs(t(s, dir, "documents")))),
    "media_decode" -> { (s, dir) =>
      Multimodal.decodeFeatures(s, Multimodal.assetsFromDocs(t(s, dir, "documents")))
        .toDF().select("media_id", "kind", "width", "height", "n_frames")
    })

  // ----- DuckDB oracle SQL builders for the training-data operators -----
  // (generated from the SAME Scala constants the Spark operators use)

  private val toksSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  private def hash32Sql(inner: String) =
    s"CAST(('0x' || substr(md5($inner), 1, 8)) AS BIGINT)"
  private val P = TextOps.P

  private def langIdSql: String = {
    val scores = TextOps.LangProfiles.map { case (l, ws) =>
      s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$l"
    }.mkString(",\n  ")
    val g = TextOps.LangProfiles.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = TextOps.LangProfiles
      .map { case (l, _) => s"WHEN s_$l = g THEN '$l'" }.mkString(" ")
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s AS (SELECT doc_id,
       |  $scores
       |FROM tok),
       |gg AS (SELECT *, $g AS g FROM s)
       |SELECT doc_id, CASE WHEN g = 0 THEN 'und' $cases ELSE 'und' END AS predicted_lang
       |FROM gg""".stripMargin
  }

  private def qualitySql: String = {
    val stop = TextOps.LangProfiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
       |SELECT doc_id, len(toks) AS n_tok, length(text) AS n_char,
       |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
       |  CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE) / len(toks) AS stop_ratio,
       |  CAST(list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> length(t)::BIGINT)), (a, x) -> a + x) AS DOUBLE) / len(toks) AS mean_tok_len
       |FROM t""".stripMargin
  }

  /** Shared CTE chain ending in `cand` (the distinct LSH candidate
    * pairs over relation `docsRel`) — reused by the pair query (all
    * documents) and the clustering oracle (exact-dedup representatives,
    * mirroring [[Dedup.nearDupClusters]]'s composition). */
  private def minhashCandCtes(docsRel: String = "documents"): String = {
    val sigCols = (0 until Dedup.Bands * Dedup.Rows)
      .map(i => s"min((${Dedup.A(i)} * h + ${Dedup.B(i)}) % $P) AS mh$i").mkString(",\n  ")
    val bandRows = (0 until Dedup.Bands).map { b =>
      val cols = (0 until Dedup.Rows).map(r => s"mh${b * Dedup.Rows + r}")
      s"SELECT doc_id, $b AS band, ${cols.mkString(" || ':' || ")} AS bsig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""t0 AS (SELECT doc_id, $toksSql AS toks0 FROM $docsRel),
       |t AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks0)),
       |    i -> toks0[i] || ' ' || toks0[i+1])) AS toks
       |  FROM t0 WHERE len(toks0) >= 2),
       |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
       |h AS (SELECT doc_id, ${hash32Sql("tk")} % $P AS h FROM tok),
       |sig AS (SELECT doc_id,
       |  $sigCols
       |FROM h GROUP BY doc_id),
       |bands AS ($bandRows),
       |bsz AS (SELECT band, bsig, count(*) AS bn, min(doc_id) AS rep
       |  FROM bands GROUP BY band, bsig),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
       |    JOIN bsz s ON s.band = a.band AND s.bsig = a.bsig
       |    WHERE s.bn <= ${Dedup.DefaultMaxBucket}
       |  UNION ALL
       |  SELECT s.rep AS doc_a, a.doc_id AS doc_b
       |    FROM bands a JOIN bsz s ON s.band = a.band AND s.bsig = a.bsig
       |    WHERE s.bn > ${Dedup.DefaultMaxBucket} AND a.doc_id <> s.rep))""".stripMargin
  }

  private def minhashSql: String =
    s"""WITH ${minhashCandCtes()}
       |SELECT doc_a, doc_b FROM cand""".stripMargin

  /** Exact-dedup to representatives → LSH candidates → exact
    * bigram-Jaccard verify → min-reachable component (recursive CTE) →
    * keeper per representative → expanded back to every doc — the same
    * composition [[Dedup.nearDupClusters]] runs. */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE
       |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
       |  FROM documents),
       |rdocs AS (SELECT d.* FROM documents d
       |  JOIN ex ON ex.doc_id = d.doc_id AND ex.rep = d.doc_id),
       |${minhashCandCtes("rdocs")},
       |sh2 AS (SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(toks2)), i -> toks2[i] || ' ' || toks2[i+1]))) AS ng
       |  FROM (SELECT doc_id, $toksSql AS toks2 FROM rdocs) WHERE len(toks2) >= 2),
       |cdocs AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand)),
       |shc AS (SELECT * FROM sh2 WHERE doc_id IN (SELECT doc_id FROM cdocs)),
       |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.doc_a = a.doc_id AND c.doc_b = b.doc_id)
       |  GROUP BY 1, 2),
       |ver AS (SELECT doc_a, doc_b FROM inter
       |  JOIN szc sa ON sa.doc_id = doc_a JOIN szc sb ON sb.doc_id = doc_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM ver
       |  UNION SELECT doc_b, doc_a FROM ver),
       |r(doc, reach) AS (
       |  SELECT doc_id, doc_id FROM rdocs
       |  UNION
       |  SELECT r.doc, e.b FROM r JOIN e ON e.a = r.reach),
       |repk AS (SELECT doc AS rep, min(reach) AS keeper FROM r GROUP BY doc)
       |SELECT ex.doc_id, repk.keeper FROM ex JOIN repk ON repk.rep = ex.rep""".stripMargin

  private def simhashCte(docsRel: String = "documents"): String = {
    val sums = (0 until 32).map(b => s"SUM((h >> $b) & 1) AS c$b").mkString(", ")
    val bits = (0 until 32)
      .map(b => s"CASE WHEN c$b * 2 > n THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""t AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM $docsRel),
       |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
       |h AS (SELECT doc_id, ${hash32Sql("tk")} AS h FROM tok),
       |agg AS (SELECT doc_id, $sums, count(*) AS n FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM agg)""".stripMargin
  }

  private def cosSql(a: String, b: String): String = {
    def norm(v: String) =
      s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform($v, x -> x::DOUBLE * x::DOUBLE)), (p, q) -> p + q))"
    s"""(list_reduce(list_prepend(0.0::DOUBLE,
       |   list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       |   (p, q) -> p + q)
       | / (${norm(a)} * ${norm(b)}))""".stripMargin.replace("\n", " ")
  }

  private def planeDotSql(j: Int, v: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($v) + 1),
       | i -> (CASE WHEN CAST(('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 2)) AS BIGINT) % 2 = 1
       |       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) * $v[i]::DOUBLE)), (p, q) -> p + q)"""
      .stripMargin.replace("\n", " ")

  private def lshBucketSql(v: String, band: Int = 0): String =
    (0 until 8).map(j =>
      s"(CASE WHEN ${planeDotSql(band * 8 + j, v)} >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")

  /** Banded candidate CTE mirroring Similarity.bandedBuckets /
    * bandedCandidates with bands = 2, planes = 8. */
  private def bandedCandSql: String =
    s"""bk AS (
       |  SELECT vec_id, 0 AS band, ${lshBucketSql("embedding", 0)} AS bucket FROM embeddings
       |  UNION ALL SELECT vec_id, 1, ${lshBucketSql("embedding", 1)} FROM embeddings),
       |bkz AS (SELECT band, bucket, count(*) AS bn, min(vec_id) AS rep
       |  FROM bk GROUP BY band, bucket),
       |cand AS (SELECT DISTINCT id_a, id_b FROM (
       |  SELECT a.vec_id AS id_a, bb.vec_id AS id_b
       |    FROM bk a JOIN bk bb ON a.band = bb.band AND a.bucket = bb.bucket AND a.vec_id < bb.vec_id
       |    JOIN bkz s ON s.band = a.band AND s.bucket = a.bucket
       |    WHERE s.bn <= ${Similarity.DefaultMaxBucket}
       |  UNION ALL
       |  SELECT s.rep AS id_a, a.vec_id AS id_b
       |    FROM bk a JOIN bkz s ON s.band = a.band AND s.bucket = a.bucket
       |    WHERE s.bn > ${Similarity.DefaultMaxBucket} AND a.vec_id <> s.rep))""".stripMargin

  private def assetsCte: String =
    s"""assets AS (SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       |  (['image','audio','video'])[1 + ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 3] AS kind,
       |  encode(text) AS payload FROM documents),
       |a2 AS (SELECT media_id, kind, payload,
       |  CAST(octet_length(payload) AS BIGINT) AS byte_len,
       |  lower(substr(hex(payload), 1, 8)) AS header_hex FROM assets)""".stripMargin

  private def trainingOracle: Map[String, String] = Map(
    "text_lang_id" -> langIdSql,
    "text_quality" -> qualitySql,
    "text_token_counts" ->
      raw"""SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS ws_tokens,
           |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
           |FROM documents""".stripMargin,
    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
         |  list_transform(toks, t -> ${hash32Sql("t")} % $P)),
         |  (a, x) -> (a * 131 + x) % $P) AS fingerprint
         |FROM t""".stripMargin,
    "text_simhash" ->
      s"""WITH ${simhashCte()}
         |SELECT doc_id, simhash FROM sh""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |FROM documents""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, source,
         |  unnest(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS ng
         |  FROM t WHERE len(toks) >= 2),
         |keepng AS (SELECT source, ng FROM sh GROUP BY source, ng HAVING count(*) <= 50),
         |capped AS (SELECT sh.doc_id, sh.source, sh.ng FROM sh JOIN keepng USING (source, ng)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b ON a.source = b.source AND a.ng = b.ng AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT cand.doc_a, cand.doc_b, count(*) AS inter
         |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
         |            JOIN sh b ON b.doc_id = cand.doc_b AND b.ng = a.ng
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3""".stripMargin,
    "dedup_minhash_lsh" -> minhashSql,
    "dedup_clusters" -> dedupClustersSql,
    "kb_rel_signatures" ->
      """WITH RECURSIVE sf(subj, pred, obj) AS (
        |  SELECT * FROM (VALUES
        |    ('custNation', 'rdfs:domain', 'Customer'),
        |    ('custNation', 'rdfs:range', 'Nation'),
        |    ('suppNation', 'rdfs:domain', 'Supplier'),
        |    ('suppNation', 'rdfs:range', 'Nation'),
        |    ('nationRegion', 'rdfs:domain', 'Nation'),
        |    ('nationRegion', 'rdfs:range', 'Region'),
        |    ('custRegion', 'rdfs:subPropertyOf', 'custNation')) t(a, b, c)),
        |sp(child, parent, depth) AS (
        |  SELECT subj, obj, 1 FROM sf WHERE pred = 'rdfs:subPropertyOf'
        |  UNION
        |  SELECT sp.child, s2.obj, sp.depth + 1 FROM sp
        |  JOIN sf s2 ON sp.parent = s2.subj AND s2.pred = 'rdfs:subPropertyOf'
        |  WHERE sp.depth < 32),
        |spmin AS (SELECT child, parent, min(depth) AS depth FROM sp GROUP BY 1, 2),
        |decl_d AS (SELECT subj AS rel, min(obj) AS dom FROM sf WHERE pred = 'rdfs:domain' GROUP BY subj),
        |decl_r AS (SELECT subj AS rel, min(obj) AS rng FROM sf WHERE pred = 'rdfs:range' GROUP BY subj),
        |inh_d AS (SELECT child AS rel, dom FROM (
        |  SELECT sp.child, decl_d.dom,
        |    row_number() OVER (PARTITION BY sp.child ORDER BY sp.depth, sp.parent) AS rn
        |  FROM spmin sp JOIN decl_d ON sp.parent = decl_d.rel
        |  WHERE sp.child NOT IN (SELECT rel FROM decl_d)) WHERE rn = 1),
        |inh_r AS (SELECT child AS rel, rng FROM (
        |  SELECT sp.child, decl_r.rng,
        |    row_number() OVER (PARTITION BY sp.child ORDER BY sp.depth, sp.parent) AS rn
        |  FROM spmin sp JOIN decl_r ON sp.parent = decl_r.rel
        |  WHERE sp.child NOT IN (SELECT rel FROM decl_r)) WHERE rn = 1),
        |d AS (SELECT * FROM decl_d UNION ALL SELECT * FROM inh_d),
        |r AS (SELECT * FROM decl_r UNION ALL SELECT * FROM inh_r),
        |rels AS (SELECT DISTINCT rel FROM (
        |  SELECT rel FROM d UNION ALL SELECT rel FROM r))
        |SELECT rels.rel, d.dom, r.rng FROM rels
        |LEFT JOIN d ON d.rel = rels.rel
        |LEFT JOIN r ON r.rel = rels.rel""".stripMargin,
    "kb_domain_set" ->
      s"""$schemaKbCte
         |SELECT entity FROM typed
         |UNION
         |SELECT DISTINCT subj FROM kb WHERE pred = 'custOrderPriority'""".stripMargin,
    "kb_witness_subgraph" ->
      s"""$triplesCte
         |SELECT DISTINCT t.subj AS cust, t.obj AS nation
         |FROM triples t
         |WHERE t.pred = 'custNation'
         |  AND EXISTS (SELECT 1 FROM triples o1 JOIN triples o2
         |                ON o1.subj = o2.subj
         |              WHERE o1.pred = 'orderCust' AND o1.obj = t.subj
         |                AND o2.pred = 'orderPriority'
         |                AND o2.obj = '1-URGENT')""".stripMargin,
    "kb_domain_set_direct" ->
      s"""$schemaKbCte
         |SELECT DISTINCT subj AS entity FROM kb
         |WHERE pred = 'rdf:type' AND obj = 'Customer'
         |UNION
         |SELECT DISTINCT subj FROM kb WHERE pred = 'custOrderPriority'""".stripMargin,
    "kb_transitive_type_inline" ->
      s"""$schemaKbCte
         |SELECT DISTINCT subj AS cust FROM kb
         |WHERE pred = 'custOrderPriority' AND obj = '1-URGENT'
         |  AND subj IN (SELECT entity FROM typed)""".stripMargin,
    "kb_histogram_domain" ->
      s"""$schemaKbCte,
         |counts AS (
         |  SELECT subj AS entity, count(*) AS n FROM kb
         |  WHERE pred = 'custOrderPriority' GROUP BY subj)
         |SELECT n, count(*) AS entities FROM counts
         |JOIN typed USING (entity) GROUP BY n""".stripMargin,
    "kb_rule_predictions" ->
      s"""$lpCte,
         |${lpPredsCte(maxplus = false)}
         |SELECT p.subj, p.pred, p.obj, p.conf FROM preds p
         |WHERE NOT EXISTS (SELECT 1 FROM train t
         |  WHERE t.subj = p.subj AND t.pred = p.pred AND t.obj = p.obj)""".stripMargin,
    "kb_link_prediction" -> lpRankSql(maxplus = false),
    "kb_link_prediction_maxplus" -> lpRankSql(maxplus = true),
    "kb_dictionary" ->
      s"""$triplesCte,
         |terms AS (SELECT DISTINCT term FROM (
         |  SELECT subj AS term FROM triples
         |  UNION SELECT pred FROM triples
         |  UNION SELECT obj FROM triples))
         |SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS id FROM terms""".stripMargin,
    "kb_encoded" ->
      s"""$triplesCte,
         |terms AS (SELECT DISTINCT term FROM (
         |  SELECT subj AS term FROM triples
         |  UNION SELECT pred FROM triples
         |  UNION SELECT obj FROM triples)),
         |d AS (SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS id FROM terms)
         |SELECT ds.id AS subj_id, dp.id AS pred_id, do_.id AS obj_id
         |FROM triples
         |JOIN d ds ON ds.term = subj
         |JOIN d dp ON dp.term = pred
         |JOIN d do_ ON do_.term = obj""".stripMargin,
    // all-pairs oracle — equals the banded Spark join exactly because
    // maxHamming 3 < 4 bands (pigeonhole)
    "dedup_simhash" ->
      s"""WITH ${simhashCte()}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    // cluster-keeper over the same all-pairs Hamming graph: exact-dedup
    // reps, edges at hamming <= 3, transitive closure, min id per
    // component, expanded back through the exact-rep map
    "dedup_simhash_clusters" ->
      s"""WITH RECURSIVE
         |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
         |  FROM documents),
         |rdocs AS (SELECT d.* FROM documents d
         |  JOIN ex ON ex.doc_id = d.doc_id AND ex.rep = d.doc_id),
         |${simhashCte("rdocs")},
         |ver AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM ver
         |  UNION SELECT doc_b, doc_a FROM ver),
         |r(doc, reach) AS (
         |  SELECT doc_id, doc_id FROM rdocs
         |  UNION
         |  SELECT r.doc, e.b FROM r JOIN e ON e.a = r.reach),
         |repk AS (SELECT doc AS rep, min(reach) AS keeper FROM r GROUP BY doc)
         |SELECT ex.doc_id, repk.keeper FROM ex JOIN repk ON repk.rep = ex.rep""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $bandedCandSql
         |SELECT id_a, id_b, ${cosSql("e1.embedding", "e2.embedding")} AS cos
         |FROM cand JOIN embeddings e1 ON e1.vec_id = id_a
         |          JOIN embeddings e2 ON e2.vec_id = id_b
         |WHERE ${cosSql("e1.embedding", "e2.embedding")} >= 0.3""".stripMargin,
    "sim_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |p AS (SELECT query_id, e.vec_id AS neighbor_id, ${cosSql("qe", "e.embedding")} AS score
         |  FROM q JOIN embeddings e ON e.vec_id <> query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank FROM p)
         |SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 5""".stripMargin,
    "sim_lsh_topk" ->
      s"""WITH $bandedCandSql,
         |sym AS (SELECT id_a AS query_id, id_b AS neighbor_id FROM cand
         |        UNION ALL SELECT id_b, id_a FROM cand),
         |p AS (SELECT query_id, neighbor_id, ${cosSql("e1.embedding", "e2.embedding")} AS score
         |  FROM sym JOIN embeddings e1 ON e1.vec_id = query_id
         |           JOIN embeddings e2 ON e2.vec_id = neighbor_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank FROM p)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 3""".stripMargin,
    // replicates the deterministic IVF exactly: smallest-id centroids,
    // rank-1 cosine assignment (ties to smaller list id), nProbe probed
    // lists per query, top-k over probed members
    "sim_ivf_topk" ->
      s"""WITH cents AS (SELECT vec_id AS list_id, embedding AS ce
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |rk AS (SELECT e.vec_id, c.list_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.list_id) AS crk
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (SELECT vec_id, list_id FROM rk WHERE crk = 1),
         |probes AS (SELECT vec_id AS query_id, list_id FROM rk
         |  WHERE crk <= 4 AND vec_id < 10),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN asg a USING (list_id)
         |  WHERE a.vec_id <> p.query_id),
         |p AS (SELECT query_id, neighbor_id,
         |    ${cosSql("e1.embedding", "e2.embedding")} AS score
         |  FROM cand JOIN embeddings e1 ON e1.vec_id = query_id
         |            JOIN embeddings e2 ON e2.vec_id = neighbor_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INT) AS rank FROM p)
         |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5""".stripMargin,
    "media_stats" ->
      s"""WITH $assetsCte
         |SELECT kind, count(*) AS n, CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
         |  min(byte_len) AS min_bytes, max(byte_len) AS max_bytes,
         |  count(DISTINCT header_hex) AS distinct_headers
         |FROM a2 GROUP BY kind""".stripMargin,
    "media_decode" ->
      s"""WITH $assetsCte,
         |d AS (SELECT media_id, kind, byte_len,
         |  CAST(('0x' || substr(hex(payload), 1, 2)) AS BIGINT) AS b0,
         |  CAST(('0x' || substr(hex(payload), 3, 2)) AS BIGINT) AS b1 FROM a2)
         |SELECT media_id, kind,
         |  CAST(16 + b0 % 64 AS INT) AS width,
         |  CAST(16 + b1 % 64 AS INT) AS height,
         |  CAST(CASE WHEN kind = 'video' THEN 1 + byte_len % 30 ELSE 1 END AS INT) AS n_frames
         |FROM d""".stripMargin)

  def oracleSql: Map[String, String] = trainingOracle ++ Map(
    "kb_typing_overlap" ->
      """WITH type_facts AS (
        |  SELECT DISTINCT event_type AS cls, 'u' || user_id AS entity FROM events),
        |rel_facts AS (
        |  SELECT DISTINCT 'did_' || event_type AS rel, 'u' || user_id AS entity FROM events
        |  UNION SELECT DISTINCT 'did_' || event_type || '-1', 'e' || event_id FROM events)
        |SELECT cls, rel, count(*) AS overlap
        |FROM type_facts JOIN rel_facts USING (entity)
        |GROUP BY cls, rel""".stripMargin,
    "kb_multilingual" ->
      """WITH f AS (
        |  SELECT 'd' || doc_id AS subj, 'hasLabel' AS pred,
        |         substr(text, 1, 20) || '@' || lang AS obj FROM documents),
        |tagged AS (
        |  SELECT obj, regexp_extract(obj, '^([^@]*)@([^@]*)$', 1) AS l,
        |         regexp_extract(obj, '^([^@]*)@([^@]*)$', 2) AS g
        |  FROM f WHERE regexp_matches(obj, '^([^@]*)@([^@]*)$'))
        |SELECT subj, pred, obj FROM f
        |UNION ALL SELECT obj, '<label>', l FROM tagged
        |UNION ALL SELECT obj, '<lang>', g FROM tagged""".stripMargin,
    "kb_delta" ->
      s"""$triplesCte
         |SELECT subj, pred, obj FROM (
         |  SELECT subj, pred, obj FROM triples
         |  EXCEPT
         |  SELECT subj, pred, obj FROM triples WHERE pred = 'custNation' AND obj = 'n1')
         |UNION
         |SELECT 'c' || c_custkey, 'custSegment', c_mktsegment
         |FROM customer WHERE c_custkey <= 50""".stripMargin,
    // Depth-2 mining in SQL: enumerate (body-relation, orientation,
    // head-relation) candidates over the same 4-relation KB as
    // SparkEntry.miningKB, compute support / head-coverage / std / PCA
    // exactly as Metrics does (PCA denominator keyed on the functional
    // variable — subject iff distinct-subject count >= distinct-object
    // count), apply the miner's thresholds, and render the AMIE rule
    // string. The b=h same-orientation candidate is the head atom itself
    // and is excluded, mirroring the refinement's duplicate-atom guard.
    "kb_mined_rules_d2" ->
      """WITH t AS (
        |  SELECT DISTINCT subj, pred, obj FROM (
        |    SELECT 'c' || c_custkey AS subj, 'custNation' AS pred, 'n' || c_nationkey AS obj FROM customer
        |    UNION ALL SELECT 'c' || c_custkey, 'custNationAcct', 'n' || c_nationkey FROM customer WHERE c_acctbal >= 0
        |    UNION ALL SELECT 'n' || c_nationkey, 'nationCust', 'c' || c_custkey FROM customer
        |    UNION ALL SELECT 'n' || n_nationkey, 'nationRegion', 'r' || n_regionkey FROM nation
        |  )
        |),
        |hsz AS (SELECT pred, count(*) AS sz, count(DISTINCT subj) AS ds, count(DISTINCT obj) AS dobj FROM t GROUP BY pred),
        |kbsz AS (SELECT count(*) AS n FROM t),
        |body AS (
        |  SELECT pred AS bp, 0 AS inv, subj AS x, obj AS y FROM t
        |  UNION ALL SELECT pred AS bp, 1 AS inv, obj AS x, subj AS y FROM t
        |),
        |supp AS (
        |  SELECT b.bp, b.inv, h.pred AS hp, count(DISTINCT b.x || '|' || b.y) AS support
        |  FROM body b JOIN t h ON b.x = h.subj AND b.y = h.obj
        |  WHERE NOT (b.bp = h.pred AND b.inv = 0)
        |  GROUP BY b.bp, b.inv, h.pred
        |),
        |bsz AS (SELECT bp, inv, count(DISTINCT x || '|' || y) AS body_size FROM body GROUP BY bp, inv),
        |pca AS (
        |  SELECT b.bp, b.inv, hd.pred AS hp, count(DISTINCT b.x || '|' || b.y) AS pca_body_size
        |  FROM body b JOIN (SELECT DISTINCT t.pred, t.subj AS e FROM t JOIN hsz z ON z.pred = t.pred AND z.ds >= z.dobj) hd
        |    ON b.x = hd.e
        |  GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT b.bp, b.inv, hd.pred AS hp, count(DISTINCT b.x || '|' || b.y) AS pca_body_size
        |  FROM body b JOIN (SELECT DISTINCT t.pred, t.obj AS e FROM t JOIN hsz z ON z.pred = t.pred AND z.ds < z.dobj) hd
        |    ON b.y = hd.e
        |  GROUP BY 1, 2, 3
        |)
        |SELECT
        |  CASE WHEN s.inv = 0 THEN '?x  ' || s.bp || '  ?y   => ?x  ' || s.hp || '  ?y'
        |       ELSE '?y  ' || s.bp || '  ?x   => ?x  ' || s.hp || '  ?y' END AS "Rule",
        |  CAST(s.support AS DOUBLE) / hsz.sz AS "HeadCoverage",
        |  CAST(s.support AS DOUBLE) / bsz.body_size AS "StdConfidence",
        |  CAST(s.support AS DOUBLE) / p.pca_body_size AS "PcaConfidence",
        |  s.support AS "Support",
        |  CAST(s.support AS DOUBLE) / kbsz.n AS "SupportRatio",
        |  bsz.body_size AS "BodySize",
        |  p.pca_body_size AS "PcaBodySize",
        |  CASE WHEN hsz.ds >= hsz.dobj THEN '?x' ELSE '?y' END AS "FunctionalVariable",
        |  CAST(0 AS DOUBLE) AS "StdConfUpperBound",
        |  CAST(0 AS DOUBLE) AS "PcaConfUpperBound",
        |  CAST(0 AS DOUBLE) AS "PcaConfEstimation"
        |FROM supp s
        |JOIN hsz ON hsz.pred = s.hp
        |JOIN bsz ON bsz.bp = s.bp AND bsz.inv = s.inv
        |JOIN pca p ON p.bp = s.bp AND p.inv = s.inv AND p.hp = s.hp
        |CROSS JOIN kbsz
        |WHERE s.support >= GREATEST(20, CAST(CEIL(0.05 * hsz.sz) AS BIGINT))
        |  AND CAST(s.support AS DOUBLE) / hsz.sz >= 0.05
        |  AND CAST(s.support AS DOUBLE) / p.pca_body_size >= 0.5""".stripMargin,
    "kb_stats" ->
      s"""$triplesCte
         |SELECT pred, count(*) AS size,
         |       count(DISTINCT subj) AS distinct_subj,
         |       count(DISTINCT obj) AS distinct_obj,
         |       CAST(count(DISTINCT subj) AS DOUBLE) / count(*) AS functionality,
         |       CAST(count(DISTINCT obj) AS DOUBLE) / count(*) AS inv_functionality
         |FROM triples GROUP BY pred""".stripMargin,
    "kb_rule_metrics" ->
      s"""$triplesCte,
         |body AS (
         |  SELECT DISTINCT a.subj AS x, b.obj AS r
         |  FROM triples a JOIN triples b ON a.obj = b.subj
         |  WHERE a.pred = 'custNation' AND b.pred = 'nationRegion'),
         |head AS (SELECT subj AS x, obj AS r FROM triples WHERE pred = 'custRegion'),
         |supp AS (SELECT count(*) AS support FROM (SELECT DISTINCT body.x, body.r FROM body JOIN head ON body.x = head.x AND body.r = head.r)),
         |bs AS (SELECT count(*) AS body_size FROM body),
         |pca AS (SELECT count(*) AS pca_body_size FROM (SELECT DISTINCT body.x, body.r FROM body JOIN head ON body.x = head.x))
         |SELECT support, body_size, pca_body_size,
         |       CAST(support AS DOUBLE) / body_size AS std_confidence,
         |       CAST(support AS DOUBLE) / pca_body_size AS pca_confidence
         |FROM supp, bs, pca""".stripMargin,
    "kb_select_one_var" ->
      s"""$triplesCte
         |SELECT DISTINCT subj FROM triples WHERE pred = 'custNation' AND obj = 'n1'""".stripMargin,
    "kb_join_two_atoms" ->
      s"""$triplesCte
         |SELECT DISTINCT a.subj AS cust, b.subj AS supp
         |FROM triples a JOIN triples b ON a.obj = b.obj
         |WHERE a.pred = 'custNation' AND b.pred = 'suppNation'""".stripMargin,
    "kb_count_bindings" ->
      s"""$triplesCte
         |SELECT obj AS nation, count(*) AS cnt FROM triples
         |WHERE pred = 'custNation' GROUP BY obj""".stripMargin,
    "kb_frequent_bindings" ->
      s"""$triplesCte
         |SELECT b.obj AS region, count(DISTINCT a.subj) AS cust_cnt
         |FROM triples a JOIN triples b ON a.obj = b.subj
         |WHERE a.pred = 'custNation' AND b.pred = 'nationRegion'
         |GROUP BY b.obj""".stripMargin,
    "kb_count_projection" ->
      s"""$triplesCte
         |SELECT a.obj AS nation, count(DISTINCT h.subj || '|' || h.obj) AS head_cnt
         |FROM triples h
         |JOIN triples a ON h.subj = a.subj
         |JOIN triples b ON a.obj = b.subj AND h.obj = b.obj
         |WHERE h.pred = 'custRegion' AND a.pred = 'custNation' AND b.pred = 'nationRegion'
         |GROUP BY a.obj""".stripMargin,
    "kb_difference" ->
      s"""$triplesCte
         |SELECT DISTINCT obj AS cust FROM triples WHERE pred = 'orderCust'
         |  AND obj NOT IN (
         |    SELECT a.obj FROM triples a JOIN triples p ON a.subj = p.subj
         |    WHERE a.pred = 'orderCust' AND p.pred = 'orderPriority' AND p.obj = '1-URGENT')""".stripMargin,
    "kb_exists" ->
      s"""$triplesCte
         |SELECT DISTINCT subj AS cust FROM triples WHERE pred = 'custNation'
         |  AND subj IN (
         |    SELECT a.obj FROM triples a JOIN triples p ON a.subj = p.subj
         |    WHERE a.pred = 'orderCust' AND p.pred = 'orderPriority' AND p.obj = '1-URGENT')""".stripMargin,
    "kb_not_exists" ->
      s"""$triplesCte
         |SELECT DISTINCT subj AS cust FROM triples WHERE pred = 'custNation'
         |  AND subj NOT IN (
         |    SELECT a.obj FROM triples a JOIN triples p ON a.subj = p.subj
         |    WHERE a.pred = 'orderCust' AND p.pred = 'orderPriority' AND p.obj = '1-URGENT')""".stripMargin,
    "kb_cardinality_hist" ->
      s"""$triplesCte,
         |per_key AS (
         |  SELECT pred, obj, count(DISTINCT subj) AS n FROM triples GROUP BY pred, obj),
         |hist AS (SELECT pred, n, count(*) AS keys FROM per_key GROUP BY pred, n)
         |SELECT pred, n, keys,
         |       CAST(SUM(keys) OVER (PARTITION BY pred ORDER BY n DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_keys
         |FROM hist""".stripMargin,
    "kb_variance" ->
      s"""$triplesCte,
         |per_key AS (
         |  SELECT pred, obj, count(DISTINCT subj) AS n FROM triples GROUP BY pred, obj),
         |sums AS (SELECT pred, SUM(n) AS s1, SUM(n*n) AS s2, count(*) AS k FROM per_key GROUP BY pred)
         |SELECT pred,
         |  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k) / k AS variance
         |FROM sums""".stripMargin,
    "kb_overlaps" ->
      s"""$triplesCte,
         |se AS (SELECT DISTINCT pred, subj AS e FROM triples)
         |SELECT a.pred AS p1, b.pred AS p2, count(*) AS overlap
         |FROM se a JOIN se b ON a.e = b.e
         |GROUP BY a.pred, b.pred""".stripMargin,
    "kb_relations_by_size" ->
      s"""$triplesCte
         |SELECT pred, count(*) AS size FROM triples
         |GROUP BY pred HAVING count(*) >= 100 ORDER BY size DESC, pred""".stripMargin,
    "kb_pairs_upto" ->
      s"""$triplesCte
         |SELECT count(*) AS n FROM (
         |  SELECT DISTINCT a.subj, b.obj
         |  FROM triples a JOIN triples b ON a.obj = b.subj
         |  WHERE a.pred = 'custNation' AND b.pred = 'nationRegion'
         |  LIMIT 1001)""".stripMargin,
    "kb_contains" ->
      s"""$triplesCte
         |SELECT count(*) > 0 AS contains FROM triples
         |WHERE subj = 'n1' AND pred = 'nationRegion' AND obj = 'r1'""".stripMargin,
    "kb_taxonomy_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'c' || c_custkey AS child, 'n' || c_nationkey AS parent FROM customer
        |  UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation),
        |r(child, parent) AS (
        |  SELECT child, parent FROM edges
        |  UNION
        |  SELECT r.child, e.parent FROM r JOIN edges e ON r.parent = e.child)
        |SELECT DISTINCT child, parent FROM r""".stripMargin,
    "kb_card_gt" ->
      s"""$triplesCte
         |SELECT obj AS entity, count(DISTINCT subj) AS cnt FROM triples
         |WHERE pred = 'orderCust' GROUP BY obj HAVING count(DISTINCT subj) > 10""".stripMargin,
    "kb_card_inline" ->
      s"""$triplesCte, busy AS (
         |  SELECT obj AS c FROM triples WHERE pred = 'orderCust'
         |  GROUP BY obj HAVING count(DISTINCT subj) > 10)
         |SELECT DISTINCT t.subj AS cust, t.obj AS nation
         |FROM triples t JOIN busy ON t.subj = busy.c
         |WHERE t.pred = 'custNation'""".stripMargin,
    "kb_card_small_inline" ->
      s"""$triplesCte, few AS (
         |  SELECT obj AS c FROM triples WHERE pred = 'orderCust'
         |  GROUP BY obj HAVING count(DISTINCT subj) < 3)
         |SELECT DISTINCT t.subj AS cust
         |FROM triples t JOIN few ON t.subj = few.c
         |WHERE t.pred = 'custNation'""".stripMargin,
    "kb_not_exists_inline" ->
      s"""$triplesCte
         |SELECT DISTINCT subj AS nation FROM triples
         |WHERE pred = 'nationRegion'
         |  AND subj IN (SELECT obj FROM triples)
         |  AND subj NOT IN (SELECT obj FROM triples WHERE pred = 'orderCust')""".stripMargin,
    "kb_different_from" ->
      s"""$triplesCte
         |SELECT DISTINCT a.subj AS s1, b.subj AS s2
         |FROM triples a JOIN triples b ON a.obj = b.obj AND a.subj <> b.subj
         |WHERE a.pred = 'suppNation' AND b.pred = 'suppNation'""".stripMargin,
    "kb_union" ->
      s"""$triplesCte
         |SELECT subj AS entity FROM triples WHERE pred = 'custNation'
         |UNION
         |SELECT subj FROM triples WHERE pred = 'suppNation'""".stripMargin,
    "kb_intersect" ->
      s"""$triplesCte
         |SELECT DISTINCT obj AS entity FROM triples WHERE pred = 'orderCust'
         |INTERSECT
         |SELECT subj FROM triples WHERE pred = 'custNation' AND obj = 'n1'""".stripMargin,
    "kb_exists_bool" ->
      s"""$triplesCte
         |SELECT (SELECT count(*) FROM triples a JOIN triples b ON a.obj = b.subj
         |        WHERE a.pred = 'custNation' AND b.pred = 'nationRegion') > 0 AS sat
         |UNION ALL
         |SELECT (SELECT count(*) FROM triples WHERE pred = 'custNation' AND obj = 'n999') > 0""".stripMargin,
    "kb_type_intersections" ->
      """WITH t AS (SELECT DISTINCT user_id AS entity, event_type AS cls FROM events)
        |SELECT a.cls AS c1, b.cls AS c2, count(*) AS n
        |FROM t a JOIN t b ON a.entity = b.entity GROUP BY 1, 2""".stripMargin,
    "kb_overlaps_so" ->
      s"""$triplesCte,
         |se AS (SELECT DISTINCT pred, subj AS e FROM triples),
         |oe AS (SELECT DISTINCT pred, obj AS e FROM triples)
         |SELECT a.pred AS p1, b.pred AS p2, count(*) AS overlap
         |FROM se a JOIN oe b ON a.e = b.e
         |GROUP BY a.pred, b.pred""".stripMargin,
    "kb_entity_occurrences" ->
      s"""$triplesCte,
         |e AS (SELECT subj AS entity FROM triples UNION ALL SELECT obj FROM triples)
         |SELECT entity, count(*) AS occurrences FROM e
         |GROUP BY entity HAVING count(*) >= 20""".stripMargin,
    "kb_new_entities" ->
      s"""$triplesCte
         |SELECT subj, pred, obj FROM triples
         |WHERE pred = 'orderCust' AND obj NOT IN (
         |  SELECT subj FROM triples WHERE pred = 'custNation' AND obj = 'n1')""".stripMargin,
    "events_sessionize" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |m AS (SELECT event_id, user_id, ts,
        |  CASE WHEN prev_ts IS NULL OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM s)
        |SELECT event_id, user_id,
        |  CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM m""".stripMargin,
    "events_session_stats" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |m AS (SELECT event_id, user_id, ts,
        |  CASE WHEN prev_ts IS NULL OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM s),
        |x AS (SELECT event_id, user_id, ts,
        |  CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM m)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS span_sec
        |FROM x GROUP BY user_id, session_seq""".stripMargin,
    "kb_lang_split" ->
      """SELECT doc_id,
        |  regexp_extract(substr(text, 1, 20) || '@' || lang, '^(.*)@([a-z]+)$', 1) AS label_text,
        |  regexp_extract(substr(text, 1, 20) || '@' || lang, '^(.*)@([a-z]+)$', 2) AS label_lang
        |FROM documents""".stripMargin)
}
