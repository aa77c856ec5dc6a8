package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native HITS (hubs & authorities, Kleinberg 1999) in EXACT
  * scaled-integer arithmetic — the mutual-reinforcement twin of
  * [[PageRank]]: a vertex is a good authority when good hubs point at
  * it, a good hub when it points at good authorities. Unlike PageRank's
  * pure per-edge recurrence, HITS needs a GLOBAL normalization each
  * half-round (the raw mutual sums grow by a degree factor per round
  * and would overflow any fixed-width integer), which makes it the
  * repo's exemplar of the scalar-per-round iterative shape:
  *
  *   a_i(v) = (Σ_{u→v} h_{i-1}(u)) · SCALE ÷ max_w Σ_{u→w} h_{i-1}(u)
  *   h_i(u) = (Σ_{u→v} a_i(v))     · SCALE ÷ max_w Σ_{w→v} a_i(v)
  *
  * (floor division; h_0 = SCALE everywhere). max-normalization rather
  * than the classical L2 norm: max of integers is exact on any engine,
  * a square-root is not — the iterates are the L∞-normalized power
  * iteration of AᵀA / AAᵀ, same fixpoint direction as the textbook
  * form, and every intermediate stays a 64-bit integer (bound: max
  * weighted in-degree · SCALE² must fit a long — SCALE=10⁶ leaves
  * headroom for in-degrees to ~9·10⁶ per round after normalization
  * caps scores at SCALE).
  *
  * Scale shape: each half-round is one hash join (scores ⋈ edges) + one
  * aggregate on the opposite endpoint + a single-row max aggregate
  * broadcast back via crossJoin (one scalar crossing the cluster, the
  * unavoidable cost of normalization) + one left join to the vertex
  * set — all whole-stage codegen, lineage cut per round.
  */
object Hits {

  /** Hub/authority scores after `iters` full rounds over directed
    * `edges` (columns `src`, `dst`; duplicates collapsed). Returns
    * `(key, hub_scaled, auth_scaled)` for every vertex appearing as an
    * endpoint.
    */
  def scaled(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    import graft.core.IterPlan.IterDatasetOps
    require(iters >= 1, s"iters must be positive: $iters")
    require(scale >= 1, s"scale must be positive: $scale")
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .lckpt()
    // HITS consumes the edge set in BOTH orientations (a-half joins on
    // src, h-half on dst), so two keyed checkpoint copies — one Exchange
    // each at construction — make every per-round join zero-exchange/
    // zero-sort off the checkpoint leaf's partitioning; the r17 plan
    // audit showed the single UnknownPartitioning leaf re-Exchanging per
    // half-round instead. Same both-orientations storage trade GraphX
    // makes (edge partitions are kept per routing direction).
    val eSrc = e0.keyed("src").lckpt()
    val eDst = e0.keyed("dst").lckpt()
    val vertices = e0.select(col("src").as("key"))
      .unionAll(e0.select(col("dst").as("key")))
      .distinct()
      .keyed("key")
      .lckpt()
    var hubs = vertices.withColumn("h", lit(scale))
    var auths = vertices.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      // the raw mutual-sum table feeds BOTH the score projection and its
      // own max — checkpoint it ONCE (vertex-sized, null-coalesced) and
      // derive both consumers from the materialized scan. The earlier
      // shape computed the scores⋈edges join + aggregate TWICE per
      // half-round on the assumption Catalyst reuses the identical
      // exchange; a plan probe showed ReusedExchange never fires here
      // under AQE (independent query stages), so the join genuinely ran
      // twice. The normalized scores themselves stay a cheap
      // scan+broadcast projection — no second checkpoint needed.
      val araw = eSrc.join(hubs, col("key") === col("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("raw"))
      val aRaw = vertices
        .join(araw, col("key") === col("dst"), "left")
        .select(col("key"), coalesce(col("raw"), lit(0L)).as("raw"))
        .lckpt()
      auths = aRaw
        .crossJoin(broadcast(aRaw.agg(max(col("raw")).as("mx"))))
        .select(col("key"),
          expr(s"(raw * $scale) div greatest(coalesce(mx, 1L), 1L)").as("a"))
      val hraw = eDst.join(auths, col("key") === col("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("raw"))
      val hRaw0 = vertices
        .join(hraw, col("key") === col("src"), "left")
        .select(col("key"), coalesce(col("raw"), lit(0L)).as("raw"))
      val hRaw = hRaw0.lckpt()
      graft.core.IterPlan.debugDump("hits h-half-round", hRaw0)
      hubs = hRaw
        .crossJoin(broadcast(hRaw.agg(max(col("raw")).as("mx"))))
        .select(col("key"),
          expr(s"(raw * $scale) div greatest(coalesce(mx, 1L), 1L)").as("h"))
    }
    hubs.join(auths, "key")
      .select(col("key"), col("h").as("hub_scaled"), col("a").as("auth_scaled"))
  }
}
