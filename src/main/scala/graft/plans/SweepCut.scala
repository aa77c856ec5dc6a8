package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LOCAL community detection by PPR sweep cut (Andersen–Chung–Lang
  * 2006): run personalized PageRank from a seed, order vertices by
  * rank/degree, and walk prefixes of that order measuring CONDUCTANCE
  * `φ(S) = cut(S) / min(vol(S), vol(G\S))` — the sweep's minimum is a
  * provably good local cluster around the seed. This is the seeded
  * "find this node's community" primitive (g39's LPA and the g66–g71
  * partitioning arc are global; this answers the local question a
  * recommender or investigation workflow actually asks).
  *
  * Everything is EXACT integer arithmetic on the engine's scaled-integer
  * PPR ([[PageRank.personalizedScaled]]): the sweep score is
  * `rank·1e6 div deg`, volumes/cuts are edge counts, conductance is ppm
  * with floor division — bit-identical on any engine, hash-verifiable.
  *
  * Scale shape: the PPR rounds are the usual join+aggregate recurrence;
  * the sweep needs only the TOP `maxPrefix` vertices by score — a
  * bounded heap, never a global sort of the reached set. Per-prefix
  * cut/volume come from ONE pass over the edges incident to the
  * ≤ maxPrefix chosen vertices: an edge's "inside" activation is
  * `max(rank(u), rank(v))`, so cumulative sums over the ≤ maxPrefix
  * rows finish the sweep (cut(k) = vol(k) − within₂(k), with
  * both-direction edge rows counting each inside edge twice). The
  * final windows run over `maxPrefix` rows — the bounded
  * post-aggregate class.
  */
object SweepCut {

  /** `edges` must carry BOTH directions of an undirected graph (columns
    * `src`, `dst`). Returns one row per sweep prefix `k = 1..maxPrefix`:
    * `(k, added_node, volume, cut, conductance_ppm)`; the argmin row is
    * the local community boundary. When a prefix swallows at least half
    * the total volume the denominator guard emits 1000000 (a cut of
    * everything is no community).
    */
  def localCommunity(edges: DataFrame, seedPred: Column, iters: Int,
                     maxPrefix: Int,
                     edgesAreDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    require(maxPrefix >= 1, s"maxPrefix must be positive: $maxPrefix")
    val base = edges.select(col("src"), col("dst"))
    val e = (if (edgesAreDistinct) base else base.distinct())
      .lckpt()
    val deg = e.groupBy(col("src").as("key")).agg(count(lit(1)).as("deg"))
    val ppr = PageRank.personalizedScaled(e, seedPred, iters,
        edgesAreDistinct = true)
      .filter(col("rank_scaled") > 0)
    val scored = ppr.join(deg, "key")
      .select(col("key"), col("deg"),
        expr("(rank_scaled * 1000000) div deg").as("score"))
    val top = TopKPerGroup.topK(scored, Seq(lit(1)),
        struct(col("score"), -col("key")), maxPrefix)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("key"))))
      .lckpt()
    val within = e
      .join(top.select(col("key").as("ka"), col("rk").as("ra")),
        col("src") === col("ka"))
      .join(top.select(col("key").as("kb"), col("rk").as("rb")),
        col("dst") === col("kb"))
      .select(greatest(col("ra"), col("rb")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("w"))
    val vol2m = e.agg(count(lit(1)).as("v2"))
    val cumW = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    top.select(col("rk"), col("key"), col("deg"))
      .join(within.withColumnRenamed("m", "rk"), Seq("rk"), "left")
      .select(col("rk"), col("key"),
        sum(col("deg")).over(cumW).as("volc"),
        sum(coalesce(col("w"), lit(0L))).over(cumW).as("wc"))
      .crossJoin(broadcast(vol2m))
      .select(col("rk").cast("int").as("k"),
        col("key").cast("long").as("added_node"),
        col("volc").cast("long").as("volume"),
        (col("volc") - col("wc")).cast("long").as("cut"),
        when(least(col("volc"), col("v2") - col("volc")) > 0,
          expr("((volc - wc) * 1000000) div least(volc, v2 - volc)"))
          .otherwise(lit(1000000L)).cast("long").as("conductance_ppm"))
      .orderBy("k")
  }
}
