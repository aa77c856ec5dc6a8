package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native PageRank in EXACT scaled-integer arithmetic, so a
  * fixed iteration count yields bit-identical ranks on any engine (the
  * cross-engine determinism requirement of this repo's oracle gate —
  * float PageRank is sum-order-dependent and never hash-portable).
  *
  * Recurrence, all in 64-bit longs (floor division, positive operands):
  *   r₀(v)    = SCALE
  *   rᵢ₊₁(v) = (SCALE·(den−num))/den + (num · Σ_{u→v} rᵢ(u) ÷ outdeg(u)) ÷ den
  * with damping num/den = 85/100. Integer sums are associative, so the
  * shuffle's reduction order cannot change the result — the property
  * float ranks lack. Dangling mass is dropped (documented; the standard
  * teleport-redistribution variant needs a global scalar per round,
  * which breaks pure per-edge form).
  *
  * Scale shape: each iteration is one hash join (ranks ⋈ out-edges,
  * both partitioned by the join key) + one hash aggregate on dst +
  * one left join back to the vertex set — all whole-stage codegen; the
  * iteration count is fixed and small, and lineage is cut per round via
  * localCheckpoint to keep the plan flat (same pattern as
  * [[DfConnectedComponents]]).
  */
object PageRank {

  /** Scaled-integer ranks after `iters` rounds over directed `edges`
    * (columns `src`, `dst`; duplicate edges are collapsed). Returns
    * `(key, rank_scaled)` for every vertex appearing as an endpoint.
    */
  def ranksScaled(edges: DataFrame, iters: Int, scale: Long = 1000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    // global PageRank IS the personalized form with every vertex seeded
    // (the all-seeds identity PageRankSpec pins); the constant-true
    // predicate folds away in Catalyst, so the plan is unchanged — one
    // recurrence implementation to maintain instead of two copies
    personalizedScaled(edges, lit(true), iters, scale, dampNum, dampDen)

  /** PERSONALIZED PageRank in the same exact scaled-integer arithmetic:
    * the teleport (both the initial mass and the per-round restart term)
    * lands only on vertices satisfying `seedPred` (a boolean expression
    * over the vertex `key` column — predicate form rather than a seed
    * table so the per-round restart is a map-side expression, no extra
    * join in the iteration). Non-seed vertices carry only propagated
    * mass, so ranks measure proximity to the seed set rather than global
    * centrality — the "related items from here" primitive (seeded
    * recommendations, topic-conditioned importance, taxonomy-rooted
    * relevance). Identical per-round plan shape to [[ranksScaled]]: one
    * ranks⋈edges hash join + one dst aggregate + one left join back,
    * lineage cut per round; the recurrence is
    *   r₀(v)    = SCALE·[v ∈ S]
    *   rᵢ₊₁(v) = [v ∈ S]·(SCALE·(den−num))/den
    *              + (num · Σ_{u→v} rᵢ(u) ÷ outdeg(u)) ÷ den
    * — associative integer sums throughout, bit-identical on any engine.
    */
  def personalizedScaled(edges: DataFrame, seedPred: org.apache.spark.sql.Column,
                         iters: Int, scale: Long = 1000000L,
                         dampNum: Long = 85L, dampDen: Long = 100L,
                         edgesAreDistinct: Boolean = false): DataFrame = {
    import graft.core.IterPlan.IterDatasetOps
    require(iters >= 0 && scale % dampDen == 0 && dampNum >= 0 && dampNum <= dampDen,
      s"invalid pagerank params (iters=$iters scale=$scale damp=$dampNum/$dampDen)")
    // duplicate edges would double-count contributions, so dedup is the
    // default; a caller that already produced distinct edges skips one
    // full-edge-set shuffle (the RandomWalks.walks contract)
    val base = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val e = if (edgesAreDistinct) base else base.distinct()
    // loop-static tables shaped by the loop join key ONCE (keyed):
    // each round's ranks⋈edges and vertices⋈inbound joins then run
    // zero-exchange/zero-sort off the checkpoint leaf's partitioning
    val vertices = e.select(col("src").as("key"))
      .unionAll(e.select(col("dst").as("key")))
      .distinct()
      .keyed("key")
      .lckpt()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .keyed("src")
      .lckpt()

    val seedBase = when(seedPred, lit(scale / dampDen * (dampDen - dampNum)))
      .otherwise(lit(0L))
    runScaled(vertices, withDeg.withColumnRenamed("outdeg", "tw")
        .withColumn("w", lit(1L)),
      seedPred, seedBase, iters, scale, dampNum, dampDen)
  }

  /** WEIGHTED PageRank in the same exact scaled-integer arithmetic: a
    * source's rank mass splits across its out-edges PROPORTIONALLY to
    * edge weight — `contrib(u→v) = r(u)·w(u,v) ÷ W(u)` with `W(u)` the
    * source's total out-weight (floor division per edge, so sums stay
    * associative longs and the result is bit-identical on any engine).
    * The natural centrality for multigraph-derived edge sets (an edge
    * seen in 40 orders should carry 40× the mass of a one-off); the
    * uniform form is the `w ≡ 1` special case. Duplicate `(src, dst)`
    * rows collapse by weight SUM (multigraph semantics). Identical
    * per-round plan shape to [[ranksScaled]].
    */
  def weightedRanksScaled(edges: DataFrame, iters: Int, scale: Long = 1000000L,
                          dampNum: Long = 85L, dampDen: Long = 100L,
                          edgesAreDistinct: Boolean = false): DataFrame = {
    import graft.core.IterPlan.IterDatasetOps
    require(iters >= 0 && scale % dampDen == 0 && dampNum >= 0 && dampNum <= dampDen,
      s"invalid pagerank params (iters=$iters scale=$scale damp=$dampNum/$dampDen)")
    val base = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
    // duplicate (src, dst) rows collapse by weight SUM (multigraph
    // semantics); a caller whose edge set is distinct by construction
    // (the mirrored canonical half) skips a full-edge-set shuffle —
    // at sf2.0 that one aggregate was the dominant cost of the query
    val e = if (edgesAreDistinct) base
            else base.groupBy("src", "dst").agg(sum(col("w")).as("w"))
    val vertices = e.select(col("src").as("key"))
      .unionAll(e.select(col("dst").as("key")))
      .distinct()
      .keyed("key")
      .lckpt()
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("tw"))
    val withW = e.join(outW, "src")
      .select(col("src"), col("dst"), col("w"), col("tw"))
      .keyed("src")
      .lckpt()
    runScaled(vertices, withW, lit(true),
      lit(scale / dampDen * (dampDen - dampNum)), iters, scale, dampNum, dampDen)
  }

  /** The shared iteration: `edges` carries `(src, dst, w, tw)`; each
    * round is one ranks⋈edges hash join + one dst aggregate over the
    * per-edge floor-divided contribution + one left join back.
    */
  private def runScaled(vertices: DataFrame, edges: DataFrame,
                        seedPred: org.apache.spark.sql.Column,
                        seedBase: org.apache.spark.sql.Column, iters: Int,
                        scale: Long, dampNum: Long, dampDen: Long): DataFrame = {
    var ranks = vertices.withColumn("rank_scaled",
      when(seedPred, lit(scale)).otherwise(lit(0L)))
    for (i <- 1 to iters) {
      val inbound = edges
        .join(ranks, col("src") === col("key"))
        // uniform callers pass w = 1, tw = outdeg — rank·1 div outdeg is
        // bit-identical to the original rank div outdeg form
        .select(col("dst"), expr("rank_scaled * w div tw").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("inc"))
      val next = vertices
        .join(inbound, col("key") === col("dst"), "left")
        .select(col("key"),
          (seedBase + expr(s"($dampNum * coalesce(inc, 0L)) div $dampDen"))
            .as("rank_scaled"))
      ranks = next.lckpt()
      graft.core.IterPlan.debugDump(s"pagerank round $i", next)
    }
    ranks
  }
}
