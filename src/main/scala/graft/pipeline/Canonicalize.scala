package graft.pipeline

import graft.plans.{ConnectedComponents, DriverRegime}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 2 — entity canonicalization: connected components over the
 * candidate-alias similarity graph.
 *
 * Aliases observed in mentions are connected through *blocking keys*
 * (lowercase form, separator-stripped form): two aliases sharing a key
 * are candidate duplicates. The bipartite alias↔key graph feeds the
 * large-star/small-star CC ([[graft.plans.ConnectedComponents]]); the
 * component representative (lexicographic min alias) becomes the
 * canonical entity id. Keys are prefixed (`k1:`/`k2:`) so they can never
 * collide with alias ids, and are dropped from the final mapping.
 *
 * All of this is hash-shuffle work on the *distinct alias* set — orders
 * of magnitude smaller than the mention stream — so at 10¹² docs the CC
 * input is bounded by vocabulary size, not corpus size.
 */
object Canonicalize {

  /** distinct aliases → blocking-key edges. One scan of the mention
    * stream (explode both sides in place), not one per side. */
  def aliasKeyEdges(mentions: DataFrame): DataFrame = {
    val aliases = mentions
      .select(explode(array(col("subj_alias"), col("obj_alias"))).as("alias"))
      .distinct()
    val k1 = aliases.select(col("alias").as("src"),
      concat(lit("k1:"), lower(col("alias"))).as("dst"))
    val k2 = aliases.select(col("alias").as("src"),
      concat(lit("k2:"), lower(regexp_replace(col("alias"), "[ _]", ""))).as("dst"))
    k1.union(k2)
  }

  /**
   * alias → canonical-entity map. Scale-adaptive: one
   * [[DriverRegime.probe]] of the distinct aliases picks the regime.
   *
   * - vocabulary ≤ `driverThreshold`: the probe already holds every
   *   distinct alias, and blocking-key union-find runs on the driver (the
   *   distinct-alias set is vocabulary-sized by construction — the
   *   distributed pipeline below would spend ~20 sub-second shuffle jobs
   *   on a 30k-row graph, and per-job scheduling latency does not shrink
   *   with cores);
   * - above it: key contraction first — every blocking-key group is a
   *   star, so one `groupBy(key).min(alias)` collapses each key to
   *   alias→representative edges (removes the key nodes, halves the
   *   graph, cuts the diameter), then the large-star/small-star rounds of
   *   [[ConnectedComponents.run]]. Connectivity is preserved exactly: two
   *   aliases share a key iff both link to that key's rep. This branch
   *   reads the mentions again, not the probe, so the probe is its only
   *   extra pass.
   */
  def aliasMap(mentions: DataFrame, driverThreshold: Int = DriverRegime.Ceiling): DataFrame = {
    val spark = mentions.sparkSession
    val aliases = mentions
      .select(explode(array(col("subj_alias"), col("obj_alias"))).as("alias"))
      .distinct()
    DriverRegime.probe(aliases, driverThreshold) match {
      case Some(rows) =>
        import spark.implicits._
        val arr = rows.map(_.getString(0))
        // union-find keyed by the same two blocking keys as the
        // distributed path; result is order-independent (component
        // canonical = min alias of the final component).
        // Locale.ROOT + UTF-8 byte ordering below: the distributed path
        // uses Spark's locale-independent lower() and UTF8String byte
        // comparisons, so the driver regime must not depend on the JVM
        // default locale (Turkish dotless-i) or UTF-16 code-unit order
        // (which diverges from byte order for non-BMP code points).
        val parent = scala.collection.mutable.Map[String, String]()
        def find(x: String): String = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        def union(a: String, b: String): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(rb) = ra
        }
        val keyAnchor = scala.collection.mutable.Map[String, String]()
        for (a <- arr) {
          val lc = a.toLowerCase(java.util.Locale.ROOT)
          val k1 = "k1:" + lc
          val k2 = "k2:" + lc.replaceAll("[ _]", "")
          for (k <- Seq(k1, k2)) keyAnchor.get(k) match {
            case Some(anchor) => union(anchor, a)
            case None         => keyAnchor(k) = a
          }
        }
        val canonical = arr.groupBy(find).map { case (root, members) =>
          root -> members.reduce((x, y) => if (DriverRegime.utf8Lt(x, y)) x else y)
        }
        spark.createDataset(arr.toIndexedSeq.map(a => (a, canonical(find(a)))))
          .toDF("alias", "canonical")
      case None =>
        // materialize once: the alias-key edge set is reused below (reps,
        // contraction join, singleton fallback) and is vocabulary-sized
        val edges = aliasKeyEdges(mentions).localCheckpoint(true) // (src = alias, dst = key)
        val reps  = edges.groupBy("dst").agg(min("src").as("rep"))
        val contracted = edges.join(reps, "dst")
          .where(col("src") =!= col("rep"))
          .select(col("src"), col("rep").as("dst"))
        val cc = ConnectedComponents.run(contracted)
        val repr = cc.groupBy("component").agg(min("id").as("canonical"))
        val mapped = cc.join(repr, "component")
          .select(col("id").as("alias"), col("canonical"))
        // aliases whose key groups were singletons never reach CC — they are
        // their own canonical form
        val all = edges.select(col("src").as("alias")).distinct()
        all.join(mapped, Seq("alias"), "left")
          .select(col("alias"), coalesce(col("canonical"), col("alias")).as("canonical"))
    }
  }
}
