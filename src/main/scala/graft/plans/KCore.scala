package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native k-core decomposition by iterative peeling: repeat
  * "drop every vertex whose current degree is below k" until nothing
  * changes. The k-core is the standard graph-cleanup / community-seed
  * primitive (keep only vertices embedded in dense neighborhoods; the
  * peel round is a coarse coreness rank — early-peeled vertices are
  * peripheral, late-peeled ones were nearly core).
  *
  * Everything is exact integer arithmetic (degree counts and set
  * membership — no floats anywhere), so a fixed upper bound on rounds
  * yields bit-identical output on any engine: rounds after convergence
  * are no-ops (the surviving edge set is a fixpoint of the peel step),
  * which is what lets a fixed-depth unrolled SQL oracle check the
  * converged Spark answer verbatim.
  *
  * Scale shape (same discipline as [[DfConnectedComponents]]): each
  * round is one degree aggregate (map-side partial combine on the
  * endpoint key) plus two semi-join-shaped hash joins restricting the
  * edge list to surviving endpoints — all whole-stage codegen, all keyed
  * by vertex id, never a pairwise term. The edge set only shrinks, the
  * shuffle width is sized to the iteration (8) and restored after, and
  * lineage is cut per round via localCheckpoint so the plan stays flat
  * at any round count. Rounds are data-dependent but small in practice
  * (each round removes a full "layer"; the peel depth of real graphs is
  * tiny compared to size), and `maxRounds` hard-caps the loop.
  */
object KCore {

  /** Peel the undirected graph `edges` (long-id endpoint columns `u`,
    * `v`, one row per edge; duplicates collapsed) against degree
    * threshold `k`, for at most `maxRounds` rounds. Returns one row per
    * vertex of the input graph:
    * `(key, peel_round, core_deg)` — `peel_round` is the 1-based round
    * in which the vertex's degree fell below `k` (0 for vertices that
    * survive: the k-core), `core_deg` the surviving vertex's degree
    * WITHIN the core (0 for peeled vertices).
    */
  def peel(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import org.apache.spark.sql.graft.CatalystBridge
    import spark.implicits._
    import graft.core.IterPlan.{IterDatasetOps, simpleUndirected}
    // canonicalize: undirected edge identity is the unordered pair, so
    // both orientations collapse to one row and self-loops drop (a
    // loop can't help a vertex clear a neighbor-count bar)
    // keyed("u") + checkpoint leaf: the per-round u-side restriction
    // join runs zero-exchange off the checkpointed partitioning
    var cur = simpleUndirected(edges).keyed("u").lckpt()
    // alive tracks NOT-YET-PEELED vertices explicitly: a vertex whose
    // last edge vanished (all neighbors peeled) has degree 0 — absent
    // from the degree table — yet must still be peeled in the next
    // round, not silently dropped
    var alive = cur.select(col("u").as("key"))
      .unionByName(cur.select(col("v").as("key")))
      .distinct().lckpt()
    var removedAll = Seq.empty[(Long, Int)].toDF("key", "peel_round")
    var round = 1
    var converged = false
    while (!converged && round <= maxRounds) {
      val deg = cur.select(col("u").as("key"))
        .unionByName(cur.select(col("v").as("key")))
        .groupBy("key").agg(count(lit(1)).as("d"))
        .lckpt()
      // checkpoints run on the spot: everything that outlives the round
      // owns its data before its parents are freed (localCheckpoint
      // truncates lineage — an unpersisted parent is unrecoverable)
      val keep = deg.filter(col("d") >= k).select("key").lckpt()
      val removed = alive.join(keep, Seq("key"), "left_anti")
        .select(col("key"), lit(round).as("peel_round")).lckpt()
      if (removed.isEmpty) converged = true
      else {
        // endpoint restriction: the u probe is zero-exchange (cur is
        // keyed/captured on u), the v probe re-keys the shrunk edge
        // set; keyed back to u so the NEXT round's u probe stays free.
        val next = cur
          .join(keep.withColumnRenamed("key", "u"), "u")
          .join(keep.withColumnRenamed("key", "v"), "v")
          .select("u", "v").keyed("u").lckpt()
        removedAll = removedAll.unionByName(removed)
        CatalystBridge.unpersistCheckpoint(cur)
        CatalystBridge.unpersistCheckpoint(alive)
        cur = next
        alive = keep
        round += 1
      }
      CatalystBridge.unpersistCheckpoint(deg)
      if (converged) CatalystBridge.unpersistCheckpoint(keep)
    }
    val coreDeg = cur.select(col("u").as("key"))
      .unionByName(cur.select(col("v").as("key")))
      .groupBy("key").agg(count(lit(1)).cast("int").as("core_deg"))
    // survivors come from `alive`, not from the final edge set — under
    // the maxRounds cap a survivor can hold zero edges
    alive.join(coreDeg, Seq("key"), "left")
      .select(col("key"), lit(0).as("peel_round"),
        coalesce(col("core_deg"), lit(0)).as("core_deg"))
      .unionByName(removedAll
        .select(col("key"), col("peel_round"), lit(0).as("core_deg")))
  }
}
