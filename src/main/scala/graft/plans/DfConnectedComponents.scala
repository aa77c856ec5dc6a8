package graft.plans

import graft.core.Ckpt._
import graft.core.GraphState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DataFrame-native connected components via alternating large-star /
  * small-star contraction (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC '14).
  *
  * Why a second CC implementation next to the GraphX one
  * ([[GraphAnalytics.connectedComponents]]): GraphX materializes RDDs
  * outside Tungsten, and Pregel label propagation needs ~diameter
  * iterations — fine for the filtered shallow subgraphs that bridge
  * targets, wrong for huge or chain-shaped graphs (a Next-chain of
  * length n would take n rounds). Star contraction halves component
  * diameter per round (O(log n) rounds), each round being two hash
  * aggregations + joins in whole-stage codegen, with a localCheckpoint
  * so lineage stays flat across iterations.
  *
  * Semantics: undirected connectivity; every vertex maps to the minimum
  * 64-bit vertex id of its component — the same contract as GraphX CC,
  * so the two are interchangeable (asserted in DfConnectedComponentsSpec).
  */
object DfConnectedComponents {

  /** large-star: every neighbor v > u re-links to m = min(Γ(u) ∪ {u}).
    * The symmetric closure is NOT deduplicated before grouping: `min` is
    * duplicate-tolerant, the join fans out ≤2× on the rare edges present
    * in both orientations, and the output `distinct()` dedups anyway —
    * skipping it saves one full-width exchange per round.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: orient edges toward the larger endpoint; every smaller
    * neighbor (and the center) re-links to the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = oriented.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    oriented.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One-job fingerprint of an edge set: (count, sum of row hashes).
    * Equal fingerprints gate the sound (but expensive) `exceptAll`
    * verification, so the full set comparison runs once, at convergence,
    * instead of every round.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    // high 32 bits of the row hash: summing full 64-bit hashes overflows
    // long under ANSI mode; 32-bit summands stay exact below 2^31 rows
    val r = e.agg(count(lit(1)), sum(shiftright(xxhash64(col("u"), col("v")), 32))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** CC over `(src, dst)` long-id edge pairs. Returns `(id, component)`
    * for every vertex appearing in a non-loop edge (callers union
    * isolated vertices mapping to themselves).
    */
  def run(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge
    var e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .lckpt()
    var sig = signature(e)
    var rounds = 0
    var converged = sig._1 == 0L
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(e)).lckpt()
      val nextSig = signature(next)
      converged = nextSig == sig && next.exceptAll(e).isEmpty
      CatalystBridge.unpersistCheckpoint(e) // next is materialized; free the old round
      e = next
      sig = nextSig
      rounds += 1
    }
    // fixed point = disjoint stars with the component minimum at the
    // center: every edge reads (member, component). The final checkpoint
    // stays persisted for the caller's downstream joins.
    e.select(col("u").as("id"), col("v").as("component"))
      .unionByName(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
      .lckpt()
  }

  /** INCREMENTAL CC maintenance: merge a delta wave of edges into an
    * existing `(id, component)` labeling without touching the full edge
    * set — the graph counterpart of the g38 incremental-view pattern.
    *
    * The old labeling is a valid star contraction, so it can be reused
    * as-is: relabel each delta endpoint by its current component
    * (absent ids stand for themselves), run CC over that CONTRACTED
    * delta graph — whose vertices are super-nodes, one per touched
    * component — and compose the two mappings. Work is
    * O(delta + touched components) per refresh, never O(all edges);
    * labels stay the component-min id (the min over a merged group of
    * min-labeled stars is the global min), so the result is
    * bit-identical to a full recompute over old ∪ delta edges.
    *
    * Returns `(id, component)` for every id in the old labeling or the
    * delta edges.
    */
  def merge(comp: DataFrame, deltaEdges: DataFrame,
            maxRounds: Int = 50): DataFrame = {
    val c = comp.select(col("id"), col("component"))
    // raw self-loops carry no connectivity and their endpoints must not
    // enter the output universe (run() has the same non-loop contract)
    val delta = deltaEdges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val contracted = delta
      .join(c.select(col("id").as("src"), col("component").as("cs")),
        Seq("src"), "left")
      .join(c.select(col("id").as("dst"), col("component").as("cd")),
        Seq("dst"), "left")
      .select(coalesce(col("cs"), col("src")).as("src"),
        coalesce(col("cd"), col("dst")).as("dst"))
    val cc2 = run(contracted, maxRounds)
      .select(col("id").as("super"), col("component").as("c2"))
    // old ids ride their super-node's new label; untouched components keep theirs
    val updatedOld = c
      .join(cc2, c("component") === cc2("super"), "left")
      .select(col("id"), coalesce(col("c2"), col("component")).as("component"))
    // delta endpoints unseen before: their super-node IS themselves
    val newIds = delta.select(col("src").as("id"))
      .unionByName(delta.select(col("dst").as("id")))
      .distinct()
      .join(c, Seq("id"), "left_anti")
    val mappedNew = newIds
      .join(cc2, newIds("id") === cc2("super"), "left")
      .select(col("id"), coalesce(col("c2"), col("id")).as("component"))
    updatedOld.unionByName(mappedNew)
  }

  /** Typed-subgraph CC returning `(key, component)` like
    * [[GraphAnalytics.connectedComponents]]; isolated vertices of the
    * selected node types map to their own id.
    */
  def connectedComponents(spark: SparkSession, g: GraphState,
                          relTypes: Seq[String], nodeTypes: Seq[String]): DataFrame = {
    import graft.functions.expressions.Fnv64.fnv64Col
    val verts = g.nodes.filter(col("nodeType").isin(nodeTypes: _*))
      .select(fnv64Col(col("key")).as("id"), col("key"))
    val edgeIds = g.edges.filter(col("relType").isin(relTypes: _*))
      .select(fnv64Col(col("src")).as("src"), fnv64Col(col("dst")).as("dst"))
    val cc = run(edgeIds)
    verts.join(cc, Seq("id"), "left")
      .select(col("key"), coalesce(col("component"), col("id")).as("component"))
  }
}
