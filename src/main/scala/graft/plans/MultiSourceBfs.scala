package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS with exact distance accounting — truncated
  * closeness centrality (sum of shortest-path distances within a fixed
  * radius), the remaining classic centrality next to PageRank (g37),
  * HITS (g52), k-core (g51) and the triangle census (g36/g55). Full
  * closeness needs all-pairs distances; the standard large-graph form
  * truncates at radius D (Eppstein–Wang style neighborhood sampling
  * keeps the seed set bounded instead), which keeps every quantity an
  * exact INTEGER — no harmonic fractions, so the answer is bit-portable
  * and oracle-checkable against a fixed-depth SQL unroll.
  *
  * Shape: all seeds advance in ONE frontier keyed `(seed, node)` — S
  * seeds cost one BFS whose rows are bounded by S·V, not S passes.
  * Each round is (1) a frontier⋈edges equi-join on the current node,
  * (2) a distinct on the (seed, node) candidates, (3) one left-anti
  * join against the visited set — all hash operators in whole-stage
  * codegen; the visited set and frontier localCheckpoint per round to
  * cut lineage exactly like the other iterative plans. A converged
  * frontier (empty) short-circuits the remaining rounds via a cheap
  * isEmpty probe on the bounded frontier, not a full-graph action.
  */
object MultiSourceBfs {

  /** `edges` must carry directed `(u, v)` — pass both orientations for
    * undirected graphs. `starts` carries a `start` column. Output: one
    * row per seed `(start, n_reached, sum_dist, eccentricity)` where
    * `n_reached` counts vertices within `maxDepth` (the seed itself
    * included at distance 0), `sum_dist` is the exact truncated
    * closeness denominator, and `eccentricity` is the largest distance
    * seen within the radius.
    */
  def truncatedCloseness(edges: DataFrame, starts: DataFrame,
                         maxDepth: Int): DataFrame =
    visitedSet(edges, starts, maxDepth).groupBy("start")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).cast("long").as("sum_dist"),
        max(col("dist")).cast("int").as("eccentricity"))

  /** Truncated HARMONIC centrality — closeness's disconnected-robust
    * twin (Marchiori–Latora; Boldi–Vigna's recommended form): per seed
    * `Σ_{v ≠ seed reached} 1/dist(v)`, where unreachable vertices
    * contribute 0 instead of poisoning the sum as they do closeness.
    * Kept EXACT by scaling: each reached vertex contributes
    * `scale div dist` (integer floor division), so the readout is a
    * bit-portable long — the same trick the PageRank/conductance
    * family uses where float harmonics would be sum-order-dependent.
    * Same single multi-source BFS as [[truncatedCloseness]]; only the
    * readout differs.
    */
  def harmonicCentrality(edges: DataFrame, starts: DataFrame,
                         maxDepth: Int, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    visitedSet(edges, starts, maxDepth).groupBy("start")
      .agg(count(lit(1)).as("n_reached"),
        coalesce(sum(when(col("dist") >= 1, expr(s"$scale div dist"))), lit(0L))
          .cast("long").as("harmonic_micro"))
  }

  /** The shared BFS engine: the `(start, node, dist)` visited set
    * within `maxDepth` rounds — one frontier for ALL seeds.
    */
  private def visitedSet(edges: DataFrame, starts: DataFrame,
                         maxDepth: Int): DataFrame = {
    import graft.core.IterPlan.IterDatasetOps
    require(maxDepth >= 1, s"maxDepth must be positive: $maxDepth")
    val e = edges.select(col("u"), col("v")).distinct()
      .keyed("u").lckpt()
    var visited = starts.select(col("start"), col("start").as("node"),
      lit(0).as("dist")).lckpt()
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next0 = frontier.join(e, col("node") === col("u"))
        .select(col("start"), col("v").as("node")).distinct()
        .join(visited.select(col("start"), col("node")), Seq("start", "node"),
          "left_anti")
        .withColumn("dist", lit(depth))
      val next = next0.lckpt()
      graft.core.IterPlan.debugDump(s"bfs level $depth", next0)
      visited = visited.unionByName(next).lckpt()
      frontier = next
    }
    visited
  }
}
