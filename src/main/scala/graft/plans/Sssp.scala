package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round weighted single-source shortest paths (multi-source,
  * like [[MultiSourceBfs]]) — the classic iterative MapReduce SSSP:
  * each round relaxes edges out of the nodes whose label improved last
  * round and folds the candidates into the label table with one
  * `min` aggregate. Fixed round budget `rounds` bounds the result to
  * paths of ≤ `rounds` hops (the unrolled-oracle contract shared by
  * every iterative query here); a drained frontier short-circuits
  * earlier.
  *
  * Scale shape: the DELTA form — only improved labels join edges, so a
  * converged region stops costing anything (full-relax Bellman-Ford
  * re-scans every label every round); per round one frontier⋈edges
  * hash join, one (seed, node) min-aggregate (map-side combined), one
  * improvement anti-check, lineage cut per round. All distances exact
  * integers.
  */
object Sssp {

  /** `edges` carries `(u, v, w)` with positive integer weights (pass
    * both orientations for undirected); `starts` carries `start`.
    * Returns the label table `(start, node, dist)` for every node
    * reached within `rounds` hops.
    */
  def bounded(edges: DataFrame, starts: DataFrame, rounds: Int): DataFrame = {
    import graft.core.IterPlan.IterDatasetOps
    require(rounds >= 1, s"rounds must be positive: $rounds")
    // row-level contract enforcement: a null or non-positive weight
    // would not crash — it would silently produce wrong (or engine-
    // dependent) distances, the worst failure mode. The guard lives
    // inside the weight expression itself so pruning cannot drop it.
    val w = when(col("w").isNotNull && col("w") > 0, col("w").cast("long"))
      .otherwise(raise_error(concat(
        lit("Sssp.bounded: weights must be positive integers, got w="),
        coalesce(col("w").cast("string"), lit("null")),
        lit(" on edge u="), col("u").cast("string"),
        lit(" v="), col("v").cast("string"))))
    val e = edges.select(col("u"), col("v"), w.as("w"))
      .keyed("u")
      .lckpt()
    var dist = starts.select(col("start"), col("start").as("node"),
      lit(0L).as("dist")).lckpt()
    var frontier = dist
    var r = 0
    while (r < rounds && !frontier.isEmpty) {
      r += 1
      val cand = frontier.join(e, col("node") === col("u"))
        .select(col("start"), col("v").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.unionByName(cand)
        .groupBy("start", "node").agg(min("dist").as("dist"))
        .lckpt()
      frontier = next.join(
          dist.withColumnRenamed("dist", "old"), Seq("start", "node"), "left")
        .filter(col("old").isNull || col("dist") < col("old"))
        .select("start", "node", "dist")
        .lckpt()
      dist = next
    }
    dist
  }
}
