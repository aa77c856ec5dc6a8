package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Densest-subgraph 2(1+ε)-approximation by batched peeling (the
  * Bahmani–Kumar–Vassilvitskii MapReduce algorithm, WSDM 2012): each
  * round removes EVERY vertex whose degree is at most 2(1+ε) times the
  * current average density m/n, which provably removes a constant
  * fraction of vertices — O(log n) rounds total — while some round's
  * surviving subgraph has density within 2(1+ε) of the optimum. The
  * sequential Charikar peel (remove ONE min-degree vertex per step) is
  * inherently serial; this batched form is the reason the problem is
  * tractable on a cluster at all.
  *
  * All arithmetic is exact integer: the removal test cross-multiplies
  * (`deg · n · εDen  ≤  2(εDen+εNum) · m` — no rational ever
  * materializes; bound: n·deg_max·εDen must fit a long), densities are
  * reported as floor micros, and each round's vertex set is pinned by
  * an exact key-sum checksum — so a fixed-depth unrolled SQL oracle
  * reproduces the whole trajectory bit for bit.
  *
  * Scale shape: per round one degree aggregate + two endpoint
  * semi-joins over a shrinking edge set (the [[KCore]] plan) plus two
  * single-row aggregates (n, m, checksum) collected to the driver —
  * O(log n) scalars total, which the THRESHOLD needs on the driver
  * anyway to enter the next round's filter as a literal. The per-round
  * summary the algorithm keeps is the entire output: O(rounds) rows.
  */
object DensestSubgraph {

  /** Peel `edges` (long-id endpoint columns `u`, `v`; orientation and
    * duplicates collapsed, self-loops dropped) and return one row per
    * non-empty round:
    * `(round, n_vertices, n_edges, density_micro, vtx_checksum,
    * is_best)` — `density_micro` = ⌊m·10⁶/n⌋, `vtx_checksum` the exact
    * sum of surviving vertex ids, `is_best` 1 on the densest round
    * (max `density_micro`, earliest round on ties).
    */
  def peelSummary(edges: DataFrame, epsNum: Long = 1L, epsDen: Long = 10L,
                  maxRounds: Int = 30): DataFrame = {
    require(epsNum >= 0 && epsDen >= 1, s"invalid eps $epsNum/$epsDen")
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import org.apache.spark.sql.graft.CatalystBridge
    import graft.core.IterPlan.{IterDatasetOps, simpleUndirected}
    // keyed("u") + checkpoint leaf: the per-round u-side restriction
    // join runs zero-exchange off the checkpointed partitioning
    var cur = simpleUndirected(edges).keyed("u").lckpt()
    val summaries = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val m = cur.count()
      if (m == 0) done = true
      else {
        val vstats = cur.select(col("u").as("x"))
          .unionByName(cur.select(col("v").as("x")))
          .distinct()
          .agg(count(lit(1)), sum(col("x"))).head()
        val n = vstats.getLong(0)
        val cks = vstats.getLong(1)
        summaries += ((round, n, m, cks))
        // keep iff deg · n · εDen > 2(εDen+εNum) · m  (exact longs)
        val keep = cur.select(col("u").as("x"))
          .unionByName(cur.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("d"))
          .filter(col("d") * lit(n) * lit(epsDen) >
            lit(2L * (epsDen + epsNum)) * lit(m))
          .select("x")
        // endpoint restriction, keyed back to u for the next round's
        // free probe (the KCore discipline)
        val next = cur
          .join(keep.withColumnRenamed("x", "u"), "u")
          .join(keep.withColumnRenamed("x", "v"), "v")
          .select("u", "v").keyed("u").lckpt()
        CatalystBridge.unpersistCheckpoint(cur)
        cur = next
        round += 1
      }
    }
    val bestRound = summaries
      .maxBy { case (r, n, m, _) => (m * 1000000L / n, -r) }._1
    val rows = summaries.map { case (r, n, m, cks) =>
      Row(r, n, m, m * 1000000L / n, cks, if (r == bestRound) 1 else 0)
    }
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("n_vertices", LongType, nullable = false),
      StructField("n_edges", LongType, nullable = false),
      StructField("density_micro", LongType, nullable = false),
      StructField("vtx_checksum", LongType, nullable = false),
      StructField("is_best", IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }
}
