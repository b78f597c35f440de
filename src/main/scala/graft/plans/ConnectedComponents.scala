package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components with alternating large-star / small-star rounds
 * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
 * Components in MapReduce and Beyond", SoCC 2014) expressed as pure
 * DataFrame transforms: each round is one shuffle
 * (`groupBy(u).agg(min(v))` + join back). Converges in O(log n) rounds on
 * any graph, so it scales to alias graphs with 10⁹+ nodes, unlike naive
 * min-label propagation whose round count is the graph diameter.
 *
 * Lineage is truncated with `localCheckpoint` every round — on a real
 * cluster this becomes a reliable `checkpoint` to the job's checkpoint
 * dir; either way the iteration count stays bounded and each round's plan
 * is flat. Skewed star centers (head aliases) are exactly what AQE's
 * skew-join splitting handles; sessions enable it (see graft.Sessions).
 *
 * This is the distributed regime of `Canonicalize.aliasMap`; an alias
 * vocabulary that [[DriverRegime.fits]] never reaches it.
 */
object ConnectedComponents {

  /**
   * @param edges DataFrame with two string columns (`src`, `dst`); treated
   *              as undirected, self-loops ignored.
   * @return DataFrame (id, component) covering every node appearing in
   *         `edges`; `component` = minimal reachable id in Spark's binary
   *         (UTF-8 byte) string order.
   */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // nodes whose ONLY edges are self-loops would vanish once self-loops
    // are dropped — keep them (contract: cover every node in `edges`).
    // Typically empty; the anti-join at the end is against this tiny
    // set's own size.
    val in = edges.toDF("src", "dst")
    val selfLoopNodes = in.where($"src" === $"dst").select($"src".as("id")).distinct()

    // undirected, deduped, no self-loops; canonical orientation big→small
    // (an edge (u,v) with v < u means "u points toward candidate root v")
    var e = in
      .where($"src" =!= $"dst")
      .select(greatest($"src", $"dst").as("u"), least($"src", $"dst").as("v"))
      .distinct()
      .localCheckpoint(true)

    def sig(df: DataFrame) =
      df.agg(count(lit(1)), bit_xor(xxhash64($"u", $"v"))).collect()(0)

    // no initial sig job: the first iteration always runs (prevSig = null
    // can never equal a real signature row)
    var prevSig: org.apache.spark.sql.Row = null
    var converged = false
    var iter      = 0
    while (!converged && iter < maxIter) {
      // -- large-star: for every node, hang its LARGER neighbors under the
      //    minimum of its neighborhood (incl. itself). Output is oriented
      //    (u > v) by construction; dedup is deferred to small-star's
      //    aggregates (duplicate edges do not change min()).
      val sym = e.select($"u", $"v")
        .union(e.select($"v".as("u"), $"u".as("v")))
      val mins  = sym.groupBy("u").agg(min("v").as("mn"))
      val large = sym.join(mins, "u")
        .where($"v" > $"u")
        .select($"v".as("u"), least($"mn", $"u").as("v"))
        .where($"u" =!= $"v")

      // -- small-star: for every node, link its SMALLER neighbors (and
      //    itself) to the minimum of those.
      val sm  = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(sm, "u")
        .where($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(sm.select($"u", $"m".as("v")))
        .where($"u" =!= $"v")
        .distinct()
        .localCheckpoint(false) // lazy: materialized by the sig() action

      // fixpoint test on the (cheap, already-shuffled) edge set — count +
      // order-independent hash, ONE job per iteration (it also materializes
      // the lazy checkpoint above, truncating lineage).
      val s = sig(small)
      converged = s == prevSig
      prevSig = s
      e = small
      iter += 1
    }

    // stars: every remaining edge is (node, root); roots map to themselves
    val nodes = e.select($"u".as("id"), $"v".as("component"))
    val roots = e.select($"v".as("id")).distinct()
      .select($"id", $"id".as("component"))
    val covered = nodes.union(roots)
      .groupBy("id").agg(min("component").as("component"))
    val isolated = selfLoopNodes.join(covered, Seq("id"), "left_anti")
      .select($"id", $"id".as("component"))
    covered.union(isolated)
  }
}
