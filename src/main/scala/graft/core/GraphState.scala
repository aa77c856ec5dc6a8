package graft.core

import graft.model.{EdgeRow, NodeRow}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The distributed graph value: a nodes Dataset and an edges Dataset.
  *
  * Mirrors the reference's immutable `Graph` value (`Graph.fs:46-47`) —
  * every mutation returns a new [[GraphState]] — but each operation is a
  * lazy, distributed Dataset transformation instead of an O(n) list walk.
  *
  * Scale posture: point reads name their keys as literals. A key or
  * key-set lookup is one filter on the scan, and a hop from one source
  * broadcasts its few edges against the node set, so neither shuffles
  * nor builds a hash of the graph. Small driver-side batches
  * commit through `Transactions.commit`, which probes only the keys the
  * batch names. What such a filter costs is set by the layout it scans.
  * The cached TPC-H graph (`TpchGraph.cachedGraph`) holds nodes
  * range-partitioned and sorted on `key`, and edges on `(relType, src)`,
  * at the session width: a point read runs one task per partition, and
  * the in-memory batch stats prune it to about one batch. Range order,
  * not hash order, is what lets the stats prune: under a hash layout
  * every batch spans the whole key range. The Dataset-level mutations
  * below take batches of any size: their checks are semi/anti joins and
  * their edge dedup a hash aggregate; cascade deletes are two
  * anti-joins. Persisted layout partitions by `nodeType` ([[GraphIO]])
  * so type-filtered scans prune files.
  *
  * Cached inputs must be plan leaves. Mutations are unions, and
  * `union`/`unionByName` flatten nested unions when the plan is built: a
  * persisted Union under a mutation has its branches spliced into the
  * new Union, the cache lookup misses, and every later read re-derives
  * it from its sources. Pass persisted inputs through
  * `CatalystBridge.cachedLeaf`, as `TpchGraph.cachedGraph` does.
  */
final case class GraphState(nodes: Dataset[NodeRow], edges: Dataset[EdgeRow]) {
  import GraphState._

  private def spark: SparkSession = nodes.sparkSession

  // ---------------------------------------------------------------- reads

  /** P1/P2 — key lookup (reference `Graph.fs:54-61`, `Storage.fs:223-237`).
    * The reference scans the whole list; here the filter is pushed to the
    * scan and, on a partitioned store, prunes to one file group.
    */
  def nodeByKey(key: String): Dataset[NodeRow] =
    nodes.filter(col("key") === key)

  /** Batch variant: the rows of `keys` in input order, as the reference
    * preserves list order (`Storage.fs:233-237`). A key given twice comes
    * back twice; a missing key is skipped. One job: an `isin` filter on
    * the scan, each found row's input positions read from a literal
    * key → positions map, and a sort of the found rows in one partition.
    */
  def nodesByKeys(keys: Seq[String]): DataFrame = {
    val positions = keys.zipWithIndex.groupMap(_._1)(_._2)
    nodes.filter(col("key").isin(positions.keys.toSeq: _*))
      .withColumn("ord", explode(element_at(typedLit(positions), col("key"))))
      .coalesce(1)
      .sortWithinPartitions("ord")
      .drop("ord")
  }

  /** P3/P7 — all nodes of one type (reference `Graph.fs:550-554`,
    * `Forms.fs:507-528`). Partition-pruning filter on the store.
    */
  def nodesOfType(nodeType: String): Dataset[NodeRow] =
    nodes.filter(col("nodeType") === nodeType)

  /** P6 — regex filter on display names (reference `Library.fs:1396-1399`). */
  def filterPrettyName(pattern: String): Dataset[NodeRow] =
    nodes.filter(col("prettyName").rlike(pattern))

  /** A2/P8 — per-type counts (reference `Storage.fs:188-193`). */
  def nodeCountsByType(): DataFrame =
    nodes.groupBy("nodeType").agg(count(lit(1)).as("n")).orderBy("nodeType")

  /** S2-shaped index projection (reference `NodeIndexItem`,
    * `Storage.fs:76-80`), sorted + distinct like the index writer
    * (`Storage.fs:160-171`).
    */
  def index(): DataFrame =
    nodes
      .select("key", "nodeType", "prettyName")
      .dropDuplicates("nodeType", "key")
      .orderBy("nodeType", "key")

  // ----------------------------------------------------------- traversals

  /** J1 — the core query primitive (reference `Graph.fs:744-764`): sink
    * keys of out-edges of `srcKey` with relation `relType`.
    */
  def nodeIdsByRelation(srcKey: String, relType: String): DataFrame =
    edges
      .filter(col("src") === srcKey && col("relType") === relType)
      .select(col("dst"))

  /** J2 — one-hop dereference: traverse a relation (from every source, or
    * one) and materialize the sink nodes (reference `Library.fs:845-900`).
    * From one source, the few matching edges are the broadcast side, so
    * the node set is streamed rather than built into a hash table.
    */
  def hop(relType: String, from: Option[String] = None): DataFrame = {
    val e0 = edges.filter(col("relType") === relType)
    val e = from.fold(e0)(k => broadcast(e0.filter(col("src") === k)))
    e.join(nodes, e("dst") === nodes("key"))
      .select(
        e("src").as("from"),
        e("relType"),
        nodes("key").as("to"),
        nodes("nodeType").as("toType"),
        nodes("prettyName").as("toName"),
        nodes("payload").as("toPayload")
      )
  }

  /** J3 — chained two-hop traversal: `src —r1→ mid —r2→ dst`. Planned as
    * two hash joins; Catalyst reorders/broadcasts by size.
    */
  def twoHop(rel1: String, rel2: String): DataFrame = {
    val e1 = edges.filter(col("relType") === rel1).select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.filter(col("relType") === rel2).select(col("src").as("b2"), col("dst").as("c"))
    e1.join(e2, e1("b") === e2("b2")).select(col("a"), col("b"), col("c"))
  }

  /** J4 — existence semi-join: nodes having ≥1 out-edge of `relType`
    * (reference "is primary source?", `Library.fs:346-353`).
    */
  def withOutEdge(relType: String): Dataset[NodeRow] =
    nodes
      .join(edges.filter(col("relType") === relType), nodes("key") === edges("src"), "left_semi")
      .as(nodes.encoder)

  // ------------------------------------------------------------ mutations

  /** M1 — strict insert; error on duplicate key (reference `Graph.fs:63-70`).
    * The check semi-joins the new nodes against every node key and counts
    * keys within the batch; its one `collect` runs about three jobs. This
    * Dataset form serves batches that are themselves Datasets (g10); a
    * driver-side batch commits through `Transactions.commit`, which
    * probes only its own keys.
    */
  def addNodes(newNodes: Dataset[NodeRow]): Either[Seq[String], GraphState] = {
    val existing = newNodes
      .join(nodes.select("key"), Seq("key"), "left_semi")
      .select("key")
    // intra-batch duplicates violate key uniqueness just as surely as
    // collisions with existing nodes (the reference inserts sequentially
    // and errors on the second occurrence, Graph.fs:63-70)
    val intraBatch = newNodes.groupBy("key")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select("key")
    val dups = existing.unionByName(intraBatch).distinct()
      .limit(20).collect().map(_.getString(0)).toSeq
    if (dups.nonEmpty) Left(dups)
    else Right(copy(nodes = nodes.unionByName(newNodes)))
  }

  /** M2 — idempotent insert: skip rows whose key already exists
    * (reference `Graph.fs:72-79`). Pure transformation, no action.
    */
  def addNodesOrSkip(newNodes: Dataset[NodeRow]): GraphState = {
    val fresh = newNodes
      .dropDuplicates("key")
      .join(nodes.select("key"), Seq("key"), "left_anti")
      .as(nodes.encoder)
    copy(nodes = nodes.unionByName(fresh))
  }

  /** M4 — replace payload keeping key and adjacency (reference
    * `Graph.fs:81-90`, `Storage.fs:239-283`): anti-join out the old rows,
    * union the replacements.
    */
  def replaceNodes(replacements: Dataset[NodeRow]): GraphState = {
    val kept = nodes
      .join(replacements.select("key"), Seq("key"), "left_anti")
      .as(nodes.encoder)
    copy(nodes = kept.unionByName(replacements))
  }

  /** M5 — cascade delete (reference `Graph.fs:119-132`): drop the nodes and
    * every edge touching them, in either direction. Two anti-joins; the
    * key set broadcasts.
    */
  def removeNodes(keys: Dataset[String]): GraphState = {
    val ks = broadcast(keys.toDF("k"))
    val n2 = nodes.join(ks, nodes("key") === ks("k"), "left_anti").as(nodes.encoder)
    val e1 = edges.join(ks, edges("src") === ks("k"), "left_anti")
    val e2 = e1.join(ks, e1("dst") === ks("k"), "left_anti").as(edges.encoder)
    GraphState(n2, e2)
  }

  /** M6 — add edges with dedup of identical `(src,dst,weight,relType,
    * relPayload)` tuples (reference `Graph.fs:134-152`) and foreign-key
    * validation of BOTH endpoints — fixing the reference bug where the sink
    * check re-tests the source (`Graph.fs:137-138`). Both checks anti-join
    * against every node key and the dedup aggregates the whole edge set,
    * which every later read of the result runs again. It serves Dataset
    * batches and [[addRelationsConstrained]]; g09 runs its unchecked form.
    */
  def addRelations(newEdges: Dataset[EdgeRow]): Either[Seq[String], GraphState] = {
    val keys = nodes.select(col("key"))
    val danglingSrc = newEdges.join(keys, newEdges("src") === keys("key"), "left_anti").select(col("src").as("k"))
    val danglingDst = newEdges.join(keys, newEdges("dst") === keys("key"), "left_anti").select(col("dst").as("k"))
    val dangling = danglingSrc.unionByName(danglingDst).limit(20).collect().map(_.getString(0)).toSeq
    if (dangling.nonEmpty) Left(dangling)
    else Right(copy(edges = edges.unionByName(newEdges).dropDuplicates()))
  }

  /** M6 without the FK action — pure transformation with tuple dedup. */
  def addRelationsUnchecked(newEdges: Dataset[EdgeRow]): GraphState =
    copy(edges = edges.unionByName(newEdges).dropDuplicates())

  /** Relation endpoint-type constraint check — the reference DECLARES a
    * per-relation (source, sink) node-type table via its `NodeRelation`
    * lookup but never enforces it (`Graph.fs:648-656`: the compare call
    * is commented out, "TODO re-enable constraints"). Here the table is
    * explicit data — `relType -> (srcNodeType, dstNodeType)` — and
    * enforcement is a distributed plan: broadcast the (tiny) table, join
    * each endpoint's actual `nodeType`, keep edges whose types disagree
    * with the declaration. Relations absent from the table are
    * unconstrained — the reference's effective open-world behavior. An
    * endpoint missing from the node set reports a null actual type
    * (dangling FKs are [[addRelations]]' concern, but they can't hide
    * from this check either).
    *
    * Returns one row per violating edge:
    * `(src, dst, relType, src_type, dst_type, req_src_type, req_dst_type)`.
    */
  def constraintViolations(constraints: Map[String, (String, String)],
                           edgeSet: Option[DataFrame] = None): DataFrame = {
    val s = spark
    import s.implicits._
    val cons = constraints.toSeq.map { case (r, (st, dt)) => (r, st, dt) }
      .toDF("relType", "req_src_type", "req_dst_type")
    val nt = nodes.select(col("key"), col("nodeType"))
    edgeSet.getOrElse(edges.toDF())
      .join(broadcast(cons), Seq("relType")) // inner: unconstrained rels pass
      .join(nt.select(col("key").as("src"), col("nodeType").as("src_type")),
        Seq("src"), "left")
      .join(nt.select(col("key").as("dst"), col("nodeType").as("dst_type")),
        Seq("dst"), "left")
      .filter(!(col("src_type") <=> col("req_src_type")) ||
        !(col("dst_type") <=> col("req_dst_type")))
      .select(col("src"), col("dst"), col("relType"),
        col("src_type"), col("dst_type"),
        col("req_src_type"), col("req_dst_type"))
  }

  /** M6 with the constraint table ENABLED: FK validation as in
    * [[addRelations]], then endpoint-type enforcement via
    * [[constraintViolations]]. Reports up to 20 messages, mirroring the
    * FK path's bounded error sample.
    */
  def addRelationsConstrained(newEdges: Dataset[EdgeRow],
      constraints: Map[String, (String, String)]): Either[Seq[String], GraphState] =
    addRelations(newEdges) match {
      case Left(dangling) => Left(dangling.map(k => s"dangling endpoint: $k"))
      case Right(updated) =>
        val bad = constraintViolations(constraints, Some(newEdges.toDF()))
          .select(concat_ws(" ", col("relType"), lit("requires"),
            concat(col("req_src_type"), lit("->"), col("req_dst_type")),
            lit("but"), col("src"),
            concat(lit("("), coalesce(col("src_type"), lit("?")), lit(")")),
            lit("->"), col("dst"),
            concat(lit("("), coalesce(col("dst_type"), lit("?")), lit(")"))))
          .limit(20).collect().map(_.getString(0)).toSeq
        if (bad.nonEmpty) Left(bad) else Right(updated)
    }

  /** Register the graph as temp views (`<prefix>_nodes` / `<prefix>_edges`)
    * so the full SQL-text surface works against it — traversals as joins,
    * the custom functions after [[graft.plans.GraftExtensions.registerAll]].
    * (The reference has no query language at all; SQL comes free from
    * Catalyst once the graph is relational.)
    */
  def createOrReplaceViews(prefix: String = "graph"): Unit = {
    nodes.createOrReplaceTempView(s"${prefix}_nodes")
    edges.createOrReplaceTempView(s"${prefix}_edges")
  }

  /** Structural diff against another graph state: nodes added/removed/
    * changed (same key, different payload or name) and edges added/
    * removed — the primitive for store synchronization and audit between
    * two snapshots. Four anti-joins plus one inner join, each on keys.
    */
  def diff(other: GraphState): GraphDiff = {
    val a = nodes
    val b = other.nodes
    val addedNodes = b.join(a.select("key"), Seq("key"), "left_anti").as(b.encoder)
    val removedNodes = a.join(b.select("key"), Seq("key"), "left_anti").as(a.encoder)
    val changedNodes = b.toDF().alias("n")
      .join(a.toDF().select(col("key"),
        col("prettyName").as("old_prettyName"), col("payload").as("old_payload")), "key")
      .filter(!(col("n.prettyName") <=> col("old_prettyName")) ||
        !(col("n.payload") <=> col("old_payload"))) // null-safe: NULL↔value IS a change
      .select(col("key"), col("n.nodeType").as("nodeType"),
        col("n.prettyName").as("prettyName"), col("n.payload").as("payload"))
      .as(b.encoder)
    val eCols = Seq("src", "dst", "weight", "relType", "relPayload")
    val addedEdges = other.edges.join(edges.toDF(), eCols, "left_anti").as(edges.encoder)
    val removedEdges = edges.join(other.edges.toDF(), eCols, "left_anti").as(edges.encoder)
    GraphDiff(addedNodes, removedNodes, changedNodes, addedEdges, removedEdges)
  }

  // ----------------------------------------------------------- statistics

  /** A1-shaped conditional-count fold (reference `GenStatistics`,
    * `Library.fs:328-367`): one pass, N `sum(when(cond,1))` counters —
    * Spark plans this as a single partial+final hash aggregate.
    *
    * `payloadFields` stages ONE `json_tuple` parse of the payload and
    * exposes each field as `pf_<name>` to the counter conditions. N
    * separate `get_json_object` conditions each re-parse the whole
    * payload string per row — at a 10⁹-node store that is N-1 wasted
    * JSON parses per node. (`json_tuple` is a Generator, so the staging
    * cannot be collapsed back into the consumers.)
    */
  def conditionalCounts(nodeType: String, counters: Map[String, Column],
                        payloadFields: Seq[String] = Nil): DataFrame = {
    val rows = nodesOfType(nodeType).toDF()
    val staged =
      if (payloadFields.isEmpty) rows
      else rows.select(col("*"),
        json_tuple(col("payload"), payloadFields: _*)
          .as(payloadFields.map("pf_" + _)))
    val aggs = counters.toSeq.sortBy(_._1).map { case (name, cond) =>
      sum(when(cond, 1).otherwise(0)).as(name)
    }
    staged.agg(aggs.head, aggs.tail: _*)
  }
}

object GraphState {

  def empty(spark: SparkSession): GraphState = {
    import spark.implicits._
    GraphState(spark.emptyDataset[NodeRow], spark.emptyDataset[EdgeRow])
  }

  def apply(spark: SparkSession, nodes: DataFrame, edges: DataFrame): GraphState = {
    import spark.implicits._
    GraphState(nodes.as[NodeRow], edges.as[EdgeRow])
  }
}

/** Result of [[GraphState.diff]] — every member is a lazy Dataset. */
final case class GraphDiff(
    addedNodes: Dataset[NodeRow],
    removedNodes: Dataset[NodeRow],
    changedNodes: Dataset[NodeRow],
    addedEdges: Dataset[EdgeRow],
    removedEdges: Dataset[EdgeRow])
