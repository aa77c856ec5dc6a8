package graft.plans

import graft.core.Ckpt._
import graft.core.GraphState
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX bridge for analytical multi-hop queries (SURVEY §7.3: taxonomy
  * `IsA` closure, time-chain reachability, neighborhood analytics at
  * scale). Transactional/point operations stay on DataFrames; GraphX is
  * batch-only and applied to *filtered* subgraphs — never materialize the
  * full 100 TB edge set into one GraphX graph (SURVEY §7.4 posture).
  *
  * Vertex ids are a 64-bit FNV-1a hash of the node key (collision
  * probability ~n²/2⁶⁵ — negligible below billions of nodes); the key is
  * kept as the vertex attribute so results join back to the nodes table.
  */
object GraphAnalytics {

  def fnv64(s: String): Long =
    graft.functions.expressions.Fnv64.hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Build a GraphX graph from (sub)sets of the nodes/edges tables.
    * Vertex-id hashing runs as the codegen'd [[Fnv64]] expression inside
    * the DataFrame scan (not a per-row Scala closure), so the id
    * assignment stays in whole-stage codegen before the RDD boundary.
    */
  /** Memo of built (and input-persisted) graphs. Each `build` pins two
    * persisted RDDs for the session's lifetime; without the memo every
    * invocation (the bench runs each GraphX query twice, a session may
    * run dozens) pinned a FRESH pair, accumulating stale blocks that
    * only driver GC reclaimed — under memory pressure exactly the
    * variance source the input persist exists to kill. Keyed on the
    * GraphState instance (TpchGraph.cachedGraph is per-dir stable) plus
    * the filter config.
    *
    * Access-ordered, bounded, LRU-ONE eviction: the r10 clear-all-on-
    * overflow policy meant that under block-manager pressure EVERY
    * GraphX query paid a full DataFrame-scan + semi-join rebuild per
    * Pregel lineage (driver bench read g18/g19/g20 at 9.4/5.9/5.1 s
    * where the same code in a quiet JVM reads 0.83/0.50/0.49 s).
    * Evicting exactly the least-recently-used entry keeps the hot
    * working set persisted through a 261-query batch. Unpersist of an
    * evicted entry is best-effort — its SparkContext may already be
    * stopped after a bench recycle.
    */
  private type MemoKey = (GraphState, Seq[String], Seq[String], Int)
  private type MemoVal = (Graph[String, String], RDD[(VertexId, String)], RDD[Edge[String]])
  private val MemoCap = 32
  private val graphMemo =
    new java.util.LinkedHashMap[MemoKey, MemoVal](16, 0.75f, /*accessOrder=*/ true)

  def build(g: GraphState, relTypes: Seq[String], nodeTypes: Seq[String],
            numPartitions: Int = 8): Graph[String, String] = graphMemo.synchronized {
    val key = (g, relTypes, nodeTypes, numPartitions)
    val hit = graphMemo.get(key) // get() refreshes access order
    if (hit != null) hit._1
    else {
      if (graphMemo.size >= MemoCap) {
        val it = graphMemo.entrySet().iterator()
        val (gr, v, e) = it.next().getValue // eldest = least recently used
        // unpersist the INPUT RDDs explicitly — Graph.unpersist releases
        // only the VertexRDD/EdgeRDD the constructor derived, not the
        // persisted sources they were built from
        try {
          gr.unpersist(blocking = false)
          v.unpersist(blocking = false); e.unpersist(blocking = false)
        } catch { case _: Throwable => () } // stopped context: blocks already gone
        it.remove()
      }
      val built = buildUncached(g, relTypes, nodeTypes, numPartitions)
      graphMemo.put(key, built)
      built._1
    }
  }

  private def buildUncached(g: GraphState, relTypes: Seq[String], nodeTypes: Seq[String],
      numPartitions: Int): (Graph[String, String], RDD[(VertexId, String)], RDD[Edge[String]]) = {
    import graft.functions.expressions.Fnv64.fnv64Col
    // Pregel-style algorithms shuffle per iteration; for the filtered
    // subgraphs this bridge targets, fewer/larger partitions beat the
    // session's scan parallelism (tune up for billion-edge subgraphs)
    val vertDf = g.nodes
      .filter(col("nodeType").isin(nodeTypes: _*))
      .select(fnv64Col(col("key")).as("id"), col("key"))
    // edges must stay INSIDE the typed vertex set: GraphX materializes
    // missing endpoints with a null attribute, which would leak null-key
    // rows into results and let traversals hop through excluded types
    val vertIds = vertDf.select(col("id"))
    val edgeDf = g.edges
      .filter(col("relType").isin(relTypes: _*))
      .select(fnv64Col(col("src")).as("sid"), fnv64Col(col("dst")).as("did"), col("relType"))
      .join(vertIds.withColumnRenamed("id", "sid"), Seq("sid"), "left_semi")
      .join(vertIds.withColumnRenamed("id", "did"), Seq("did"), "left_semi")
      // using-joins move the key column first — restore (src, dst) order
      .select(col("sid"), col("did"), col("relType"))
    // PERSIST the coalesced inputs: GraphX's constructor and each Pregel
    // round re-traverse their lineage, and without a cut that re-runs
    // the DataFrame scan + two semi-joins per round — the main source of
    // the RDD paths' run-to-run variance under CPU contention (a cheap
    // plan re-executed N times dilates N times). MEMORY_AND_DISK, not
    // cache(): under block-manager pressure in a long batch, MEMORY_ONLY
    // blocks are EVICTED and every subsequent Pregel round silently pays
    // the full lineage rebuild (the r10 driver-bench cliff); spilled
    // blocks re-read from local disk in milliseconds instead.
    import org.apache.spark.storage.StorageLevel
    val verts: RDD[(VertexId, String)] = vertDf.rdd
      .map(r => (r.getLong(0), r.getString(1)))
      .coalesce(numPartitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges: RDD[Edge[String]] = edgeDf.rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
      .coalesce(numPartitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the Graph's own VertexRDD/EdgeRDD get the same disk-backed level —
    // these are what Pregel actually iterates over
    (Graph(verts, edges, null.asInstanceOf[String],
       StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK),
     verts, edges)
  }

  /** Connected components over a typed subgraph; returns
    * `(key, componentId)` as a DataFrame for joining back.
    */
  def connectedComponents(spark: SparkSession, g: GraphState,
                          relTypes: Seq[String], nodeTypes: Seq[String]): DataFrame = {
    import spark.implicits._
    val graph = build(g, relTypes, nodeTypes)
    val cc = graph.connectedComponents()
    // explicit partition count: the bare join would shuffle at
    // spark.default.parallelism (= total cores), 4× more tasks than the
    // 8-partition graph needs
    graph.vertices.join(cc.vertices, graph.vertices.getNumPartitions)
      .map { case (_, (key, comp)) => (key, comp) }
      .toDF("key", "component")
  }

  /** Pregel BFS: hop distance from a set of root keys, following edges in
    * reverse (sink→source) when `reverse` — e.g. region ← nation ←
    * customer. Unreached vertices are dropped. This is the general engine
    * for the reference's recursive closures (`IsA*` ancestor chains,
    * `Next`-chain reachability) — fixed-point iteration, not a
    * driver-side loop.
    */
  def bfsDepths(spark: SparkSession, g: GraphState, rootKeys: Set[String],
                relTypes: Seq[String], nodeTypes: Seq[String],
                maxDepth: Int, reverse: Boolean = false): DataFrame = {
    import spark.implicits._
    val graph0 = build(g, relTypes, nodeTypes)
    val graph = if (reverse) graph0.reverse else graph0
    val roots = rootKeys.map(fnv64)
    val init = graph.mapVertices { case (id, key) =>
      (key, if (roots.contains(id)) 0 else Int.MaxValue)
    }
    val bfs = init.pregel(Int.MaxValue, maxIterations = maxDepth)(
      vprog = (_, attr, msg) => (attr._1, math.min(attr._2, msg)),
      sendMsg = t =>
        if (t.srcAttr._2 != Int.MaxValue && t.srcAttr._2 + 1 < t.dstAttr._2)
          Iterator((t.dstId, t.srcAttr._2 + 1))
        else Iterator.empty,
      mergeMsg = math.min
    )
    bfs.vertices.values
      .filter(_._2 != Int.MaxValue)
      .toDF("key", "depth")
  }

  /** Ancestor-closure labeling: propagate each root's key to everything
    * that reaches it through `relType` chains (the taxonomy `IsA*` /
    * hierarchy-rollup pattern). Returns `(key, rootKey)`.
    */
  def labelFromRoots(spark: SparkSession, g: GraphState, rootKeys: Set[String],
                     relTypes: Seq[String], nodeTypes: Seq[String],
                     maxDepth: Int): DataFrame = {
    import spark.implicits._
    val graph = build(g, relTypes, nodeTypes).reverse // roots are sinks
    val roots = rootKeys.map(fnv64)
    val init = graph.mapVertices { case (id, key) =>
      (key, if (roots.contains(id)) key else "")
    }
    val labeled = init.pregel("", maxIterations = maxDepth)(
      vprog = (_, attr, msg) => (attr._1, if (attr._2.nonEmpty) attr._2 else msg),
      sendMsg = t =>
        if (t.srcAttr._2.nonEmpty && t.dstAttr._2.isEmpty)
          Iterator((t.dstId, t.srcAttr._2))
        else Iterator.empty,
      mergeMsg = (a, b) => if (a <= b) a else b // deterministic tie-break
    )
    labeled.vertices.values
      .filter(_._2.nonEmpty)
      .toDF("key", "rootKey")
  }

  /** GraphX twin of [[Triangles.counts]] (same output contract, same
    * oracle — the g18/g23 GraphX-vs-DataFrame pattern applied to the
    * triangle census). GraphX's `TriangleCount` intersects adjacent
    * vertices' neighbor sets; the DataFrame form wins at whole-graph
    * scale (Tungsten, no RDD materialization), this form cross-validates
    * it and serves filtered-subgraph callers already in GraphX land.
    * Only three scalar longs reach the driver.
    *
    * EXPLICIT INPUT BOUND `maxEdges`: `TriangleCount` materializes
    * per-vertex neighbor sets on the RDD heap, and the sf1.0 rehearsal
    * measured that OOMing the default driver heap at ~9M edges (the
    * DataFrame census handles the same graph in-heap — it spills).
    * Above the bound this cross-validation runs on the subgraph INDUCED
    * by a deterministic md5-threshold vertex sample, fraction
    * `√(maxEdges/n)` so expected surviving edges ≈ `maxEdges` —
    * reproducible across engines and retries, and a census of an
    * induced subgraph is still an exact answer to a well-defined
    * question. The whole-graph path at scale is [[Triangles.counts]]
    * (exact) or [[Triangles.approxCounts]] (estimate).
    */
  def triangleCounts(edges: DataFrame, maxEdges: Long = 2000000L): DataFrame = {
    import org.apache.spark.graphx.PartitionStrategy
    val spark = edges.sparkSession
    import spark.implicits._
    val undAll = edges
      .select(least(col("u"), col("v")).cast("long").as("u"),
        greatest(col("u"), col("v")).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .lckpt()
    val nAll = undAll.count()
    val und =
      if (nAll <= maxEdges) undAll
      else {
        val f = math.sqrt(maxEdges.toDouble / nAll)
        def keep(c: org.apache.spark.sql.Column) =
          graft.functions.Sampling.hash01(c, "graphx-tri:") < f
        undAll.filter(keep(col("u")) && keep(col("v")))
          .lckpt()
      }
    // Partition count scales with EDGE MASS, not cores: TriangleCount's
    // per-task heap is the sum of neighbor-set sizes over the vertices
    // present in one edge partition (plain JVM objects, outside unified
    // memory — they cannot spill). At cores-sized partitioning the r13
    // memory-pressure rig (2 GiB executors, sf1.0) OOMed on exactly
    // this; ~25k edges/partition keeps per-task set mass in the tens of
    // MB while EdgePartition2D bounds hub replication at 2·√P copies.
    // Pure partitioning — the census itself is partition-invariant.
    val nKept = if (nAll <= maxEdges) nAll else maxEdges
    val parts = math.max(spark.sparkContext.defaultParallelism,
      math.min(512, (nKept / 25000L).toInt + 1))
    // partitionBy(strategy, parts) IS the redistribution — an explicit
    // repartition() before it would be a second full shuffle of the
    // same edges for nothing
    val edgeRdd: RDD[Edge[Int]] = und.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val graph = Graph.fromEdges(edgeRdd, 0)
      .partitionBy(PartitionStrategy.EdgePartition2D, parts)
    val nTriangles = graph.triangleCount().vertices
      .map(_._2.toLong).fold(0L)(_ + _) / 3
    val nWedges = graph.degrees
      .map { case (_, d) => d.toLong * (d - 1) / 2 }.fold(0L)(_ + _)
    val nEdges = und.count()
    // the sampling state is part of the ANSWER, not a log line: a caller
    // cross-validating against Triangles.counts must be able to tell a
    // whole-graph-exact census from a sampled-induced-subgraph one — the
    // two disagree BY DESIGN above the bound
    Seq((nAll, if (nAll > maxEdges) 1 else 0, nEdges, nWedges, nTriangles))
      .toDF("n_edges_input", "sampled", "n_edges", "n_wedges", "n_triangles")
  }
}
