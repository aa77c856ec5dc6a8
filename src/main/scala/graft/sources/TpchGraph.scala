package graft.sources

import graft.core.{GraphState, SessionMemo}
import graft.model.{EdgeRow, NodeRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.StorageLevel

/** Derives a typed property graph from the driver's synthetic star schema,
  * exercising the same graph shapes as the reference:
  *
  *   - dimension chains `customer —InNation→ nation —InRegion→ region`
  *     (like the taxonomy `IsA` chains, reference `Population.fs:187-195`);
  *   - fact edges `order —PlacedBy→ customer`;
  *   - `lineitem` reified as a payload-less HYPEREDGE node fanning out
  *     `PartOf`/`OfPart`/`SuppliedBy` — structurally identical to the
  *     reference's `ProxiedTaxonNode` fanning out
  *     `InferredFrom`/`InferredUsing`/`InferredAs` (reference
  *     `Graph.fs:727-742`, `Population.fs:137-148`).
  *
  * Because the derivation is deterministic, every graph operator run on this
  * graph has a plain-SQL oracle over the source tables — which is exactly
  * what the driver's DuckDB gate checks.
  *
  * Standing derived state (table reads, corpus constants, artifact scans,
  * [[cachedGraph]], [[coarsenLevelOne]]) lives in [[graft.core.SessionMemo]]
  * under its one rule: an entry serves only the session that built it; a
  * lookup from another session releases it and rebuilds.
  */
object TpchGraph {

  /** Per-(session, dir, table) memo. `spark.read.parquet` re-infers the
    * schema from file footers on every call (~0.1 s per table locally);
    * the graph derivation touches ~11 tables per invocation, so repeated
    * query builds were paying ~2 s of pure re-inference. A DataFrame is
    * an immutable plan — sharing one per table is safe, and each query
    * still gets its own fresh execution.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo(spark, s"table:$name", dir) {
      if (name == "events") events(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Memoized embedding dimensionality: nine ANN/dedup queries each paid
    * a one-row `head()` job to read `size(embedding)` — a per-query
    * driver round-trip for a value that is a constant of the corpus.
    * One job per (session, dir), shared by every consumer.
    */
  def embeddingsDim(spark: SparkSession, dir: String): Int =
    SessionMemo(spark, "embeddingsDim", dir) {
      table(spark, dir, "embeddings")
        .select(size(col("embedding"))).head().getInt(0)
    }

  /** Memoized `embeddings` row count — the input of the corpus-derived
    * LSH config (p112's ledger and p130's output columns re-derive the
    * same `lshConfigFor(n, ·)` from the same count; the advisor flagged
    * the duplicate scan). The count INSIDE `Dedup.resolveLshShape`
    * stays independent on purpose: p130 gates the untouched default
    * path a new caller gets.
    */
  def embeddingsCount(spark: SparkSession, dir: String): Long =
    SessionMemo(spark, "embeddingsCount", dir) {
      table(spark, dir, "embeddings").count()
    }

  /** Schema-adaptive events reader: the generator has shipped `ts` both as
    * parquet TIMESTAMP(NANOS) (int64, which Spark 4 refuses unless read as
    * a raw long) and as a native `timestamp[us]` logical type (which Spark
    * reads as TIMESTAMP_NTZ). Branch on the inferred footer type and
    * normalize both to a microsecond session-TZ `TimestampType` so every
    * downstream consumer (windows, watermarks, `date_format`,
    * `unix_timestamp`) sees one contract. DuckDB reads either encoding as
    * a naive TIMESTAMP natively, so the oracle SQL needs no conversion;
    * with micros on both engines, `ORDER BY ts` ties resolve identically
    * by construction (the old nanos path relied on a verified
    * no-same-user-same-microsecond property instead).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // must be set BEFORE schema inference: a TIMESTAMP(NANOS) footer
    // fails inference outright without it; harmless for micros files
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Normalize an events DataFrame's `ts` to microsecond `TimestampType`.
    * Legacy int64-nanos uses integer division (epoch-nanos exceed double's
    * 2^53 mantissa, so `/ 1000` in double could land on the wrong
    * microsecond); TIMESTAMP_NTZ casts to session-TZ timestamp — value-
    * preserving when the session TZ is UTC, which the oracle comparison
    * assumes either way (naive DuckDB rendering == session-TZ rendering).
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType        => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _               => df
    }
  }

  private def k(t: String, c: org.apache.spark.sql.Column) =
    concat(lit(t + "_"), c.cast("string"))

  /** The synthetic lineitem table has duplicate `(l_orderkey,
    * l_linenumber)` pairs; the graph's hyperedge key derives from that
    * pair, so apply the reference's insert-or-skip semantics (M2,
    * `Graph.fs:72-79`) deterministically: keep the first row under a total
    * order of all columns. Same dedup is expressed in each oracle via
    * [[lineitemDedupSql]].
    */
  def lineitemDeduped(spark: SparkSession, dir: String): DataFrame = {
    // keep the minimum row under the lexicographic order of orderCols.
    // One shuffle on the key, an in-partition radix-friendly sort on flat
    // columns, then first() per key consumes the sorted run directly (the
    // key-prefix sort satisfies SortAggregate's ordering requirement, so
    // no re-sort). This beats min(struct(...)) — struct min compares rows
    // interpreted — and row_number(), which pays the same sort plus a
    // window pass. Columns are non-null, so first()==lexicographic min.
    val li = table(spark, dir, "lineitem")
      .select((Seq("l_orderkey", "l_linenumber") ++ orderCols).map(col): _*)
    li.repartition(col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions((Seq("l_orderkey", "l_linenumber") ++ orderCols).map(col): _*)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(first(orderCols.head).as(orderCols.head),
        orderCols.tail.map(c => first(c).as(c)): _*)
  }

  private val orderCols = Seq("l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

  /** DuckDB subquery equivalent of [[lineitemDeduped]]. */
  val lineitemDedupSql: String =
    "(SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY l_orderkey, l_linenumber ORDER BY " + orderCols.mkString(", ") +
      ") AS rn FROM lineitem) WHERE rn = 1)"

  /** Nodes: region, nation, customer, supplier, part, order, lineitem.
    * `withPayload = false` substitutes an empty payload — used by the
    * traversal cache, where materializing JSON for every row would defeat
    * column pruning (payload-consuming queries build uncached, so Catalyst
    * prunes payload construction to just the node type they touch).
    *
    * `encodeParallelism`: the JSON payload encode is CPU-heavy relative
    * to the scan, and the local test files are single-row-group parquet —
    * one scan partition no matter what `maxPartitionBytes`/
    * `minPartitionNum` say (a parquet split only owns the row groups
    * whose midpoint it covers). `Some(n)` inserts a round-robin exchange
    * BELOW the encode so `to_json` runs on n cores instead of one; the
    * shuffled bytes are the raw table columns, not the JSON. At cluster
    * scale real tables have many row groups and the scan parallelizes
    * naturally — leave it None there.
    */
  def nodes(spark: SparkSession, dir: String, withPayload: Boolean = true,
            li0: Option[DataFrame] = None,
            encodeParallelism: Option[Int] = None): Dataset[NodeRow] = {
    import spark.implicits._
    def mk(df0: DataFrame, t: String, id: org.apache.spark.sql.Column, name: org.apache.spark.sql.Column) = {
      val df = encodeParallelism.filter(_ => withPayload)
        .map(df0.repartition(_)).getOrElse(df0)
      df.select(
        k(t, id).as("key"),
        lit(t).as("nodeType"),
        name.cast("string").as("prettyName"),
        (if (withPayload) to_json(struct(df.columns.map(col): _*)) else lit("{}")).as("payload"))
    }
    val region   = mk(table(spark, dir, "region"),   "region",   col("r_regionkey"), col("r_name"))
    val nation   = mk(table(spark, dir, "nation"),   "nation",   col("n_nationkey"), col("n_name"))
    val customer = mk(table(spark, dir, "customer"), "customer", col("c_custkey"),  col("c_name"))
    val supplier = mk(table(spark, dir, "supplier"), "supplier", col("s_suppkey"),  col("s_name"))
    val part     = mk(table(spark, dir, "part"),     "part",     col("p_partkey"),  col("p_name"))
    val order    = mk(table(spark, dir, "orders"),   "order",    col("o_orderkey"),
                      concat(lit("Order "), col("o_orderkey")))
    val li       = li0.getOrElse(lineitemDeduped(spark, dir))
    val lineitem = li.select(
      concat(lit("lineitem_"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("key"),
      lit("lineitem").as("nodeType"),
      concat(lit("Line "), col("l_orderkey"), lit("_"), col("l_linenumber")).as("prettyName"),
      (if (withPayload) to_json(struct(li.columns.map(col): _*)) else lit("{}")).as("payload"))
    Seq(region, nation, customer, supplier, part, order, lineitem)
      .reduce(_ unionByName _).as[NodeRow]
  }

  /** Edges: the dimension chains, fact edge, and hyperedge fan-out. */
  def edges(spark: SparkSession, dir: String, withPayload: Boolean = true,
            li0: Option[DataFrame] = None): Dataset[EdgeRow] = {
    import spark.implicits._
    def e(df: DataFrame, st: String, s: org.apache.spark.sql.Column,
          dt: String, d: org.apache.spark.sql.Column, rel: String) =
      df.select(k(st, s).as("src"), k(dt, d).as("dst"),
        lit(1).as("weight"), lit(rel).as("relType"), lit("{}").as("relPayload"))
    val cust = table(spark, dir, "customer")
    val supp = table(spark, dir, "supplier")
    val nat  = table(spark, dir, "nation")
    val ord  = table(spark, dir, "orders")
    val li   = li0.getOrElse(lineitemDeduped(spark, dir))
    val liKey = concat(lit("lineitem_"), col("l_orderkey"), lit("_"), col("l_linenumber"))
    def eli(dt: String, d: org.apache.spark.sql.Column, rel: String) =
      li.select(liKey.as("src"), k(dt, d).as("dst"),
        lit(1).as("weight"), lit(rel).as("relType"),
        (if (withPayload) to_json(struct(col("l_quantity"), col("l_extendedprice")))
         else lit("{}")).as("relPayload"))
    Seq(
      e(cust, "customer", col("c_custkey"), "nation", col("c_nationkey"), "InNation"),
      e(supp, "supplier", col("s_suppkey"), "nation", col("s_nationkey"), "InNation"),
      e(nat, "nation", col("n_nationkey"), "region", col("n_regionkey"), "InRegion"),
      e(ord, "order", col("o_orderkey"), "customer", col("o_custkey"), "PlacedBy"),
      eli("order", col("l_orderkey"), "PartOf"),
      eli("part", col("l_partkey"), "OfPart"),
      eli("supplier", col("l_suppkey"), "SuppliedBy")
    ).reduce(_ unionByName _).as[EdgeRow]
  }

  def graph(spark: SparkSession, dir: String,
            encodeParallelism: Option[Int] = None): GraphState =
    GraphState(nodes(spark, dir, encodeParallelism = encodeParallelism),
      edges(spark, dir))

  /** A [[cachedGraph]] entry: the leaf graph callers get, and the
    * persisted Datasets that own its cache entries. */
  private final case class CachedGraph(graph: GraphState, persisted: Seq[Dataset[_]])

  /** Session-memoized LSH-verified near-dup pair set over `embeddings`
    * (sign-LSH blocking + inline cosine verify at cos ≥ 0.4 — the p22
    * generator). SIX queries consume this identical pair set (p22 the
    * pairs themselves, p32 cluster collapse, p86 weights, p88 the
    * incremental-CC base, p94 the recall audit, p121 triplet
    * positives); in production the near-dup pair set is a MAINTAINED
    * artifact (p58's streaming store is its incremental form), so the
    * memo models the deployment, not a bench trick.
    */
  def lshPairs(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.withRelease(spark, "lshPairs", dir) {
      val emb = table(spark, dir, "embeddings")
      val dim = embeddingsDim(spark, dir)
      // EXPLICIT legacy (4, 6) table shape: this pair set is the oracle
      // contract shared by six queries (plane literals are inlined in
      // their SQL), so its config is pinned history, not a default. New
      // code should take the operator's corpus-derived default — the
      // p130 endgame gates that path.
      graft.functions.Dedup.embeddingNearDupsLsh(
          emb, col("vec_id"), col("embedding"), minCos = 0.4, dim = dim,
          planesPerTable = 4, tables = 6)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(_.unpersist())

  /** Session-memoized canonical co-purchase edge set (`u < v`, distinct):
    * parts adjacent when some order contains both. Six analytics
    * queries (triangle census, GraphX twin, k-core, densest subgraph,
    * random walks, node features) derive from this one graph — at a
    * real deployment it is a STANDING artifact refreshed with the fact
    * table, not rebuilt per query, and the memo models exactly that
    * (the BENCH_NOTES amortization argument, made concrete).
    * MEMORY_AND_DISK so an oversized edge set spills instead of OOMing.
    */
  def copurchaseEdges(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.withRelease(spark, "copurchaseEdges", dir) {
      // READ the durable artifact, don't re-derive from the fact table:
      // the ranked adjacency holds exactly both orientations, so the
      // u < v filter over its bucketed scan IS the canonical half. A
      // fresh session (bench context recycle, restarted service) now
      // pays one pruned parquet scan instead of the lineitem self-join
      // + distinct — measured r14: the fresh-context g73/g74/g80 family
      // sat 1.7–2× over its warm floors purely on this rebuild, on r12
      // and r14 code alike. The fact-table derivation lives in the
      // artifact REFRESH ([[copurchasePairJoin]] under
      // [[storedRankedAdjacency]]), where a deployment runs it: once
      // per source change, never per session.
      storedRankedAdjacency(spark, dir)
        .filter(col("u") < col("v")).select(col("u"), col("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(_.unpersist())

  /** BOTH-ORIENTATIONS view of [[copurchaseEdges]] (`(u,v)` and
    * `(v,u)`; distinct by construction since the canonical half is
    * `u < v`): the undirected adjacency SEVEN analytics queries start
    * from (walks g54/g72, multi-source BFS g56, sweep cut g73,
    * assortativity g74, rich club g75, link prediction g76). One
    * persisted copy instead of seven per-query union+scan rebuilds —
    * the same standing-artifact economics as the canonical half.
    */
  def copurchaseEdgesMirrored(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.withRelease(spark, "copurchaseEdgesMirrored", dir) {
      // the ranked adjacency's (u, v) projection IS the mirrored edge
      // set (see its scaladoc) — scan the artifact, don't rebuild
      storedRankedAdjacency(spark, dir).select(col("u"), col("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(_.unpersist())

  /** Session-memoized DIRECTED next-purchase transition counts
    * `(src, dst, n_transitions)`: per customer each consecutive order
    * pair (orderdate, orderkey order) contributes its part-then-part
    * cross. The temporal counterpart of [[copurchaseEdges]], shared by
    * the sequential-pattern export (g58) and the SCC certificate query
    * (g64) — the per-customer window plus two order-bounded joins runs
    * once per session, the standing-artifact pattern.
    */
  def transitionEdges(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.withRelease(spark, "transitionEdges", dir) {
      // scan the durable artifact (the window + two order-bounded joins
      // live in its refresh under [[storedTransitionEdges]]) — see
      // [[copurchaseEdges]] for the session-rebuild-cost rationale
      storedTransitionEdges(spark, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(_.unpersist())

  /** Session-memoized WEIGHTED co-purchase edge set (`u < v`,
    * `w` = number of orders sharing the pair): the multigraph
    * contraction weight the multilevel-partitioning family (g66 heavy
    * matching, g67 coarsening, g68 partition+cut) coarsens by. Same
    * standing-artifact rationale as [[copurchaseEdges]] — one
    * aggregation shared across the family instead of three rebuilds.
    */
  def weightedCopurchaseEdges(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.withRelease(spark, "weightedCopurchaseEdges", dir) {
      // scan the durable artifact (fact-table aggregation lives in its
      // refresh under [[storedWeightedCopurchase]]) — see
      // [[copurchaseEdges]] for the session-rebuild-cost rationale
      storedWeightedCopurchase(spark, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(_.unpersist())

  /** Session-memoized, storage-persisted graph: the derivation (7 table
    * scans, JSON payload encode, unions) runs once per (session, data
    * directory) and every subsequent operator starts from the
    * materialized nodes/edges — the local analogue of a long-running
    * engine keeping its base tables hot. MEMORY_AND_DISK so an over-sized
    * graph spills instead of OOMing.
    *
    * The returned nodes and edges are plan LEAVES over the cache entries
    * ([[org.apache.spark.sql.graft.CatalystBridge.cachedLeaf]]), not the
    * persisted Datasets: `union`/`unionByName` flatten nested unions when
    * the plan is built, so a caller's union with the persisted 7-branch
    * unions would splice their branches into its own and miss the cache,
    * re-reading six parquet tables per query. The same (session, dir)
    * always gets the same instance, which `GraphAnalytics`' memo keys on.
    * Under the [[SessionMemo]] rule, a call from another session unpersists
    * the persisted originals (a leaf's `unpersist` finds no cache entry)
    * and rebuilds.
    *
    * Layout: nodes are range-partitioned on `key` and edges on
    * `(relType, src)`, at the session width
    * (`spark.sql.shuffle.partitions`, as `IterPlan.keyed`), and each
    * partition is sorted on those columns. The partitions hold disjoint
    * key ranges, so every in-memory batch covers a narrow range and its
    * column stats prune a `key = k`, `key IN (…)`, `relType = r AND
    * src = k` or `relType = r` filter to about one batch of one
    * partition; a point read runs one wave of tasks instead of one task
    * per union-branch partition. Range order, not hash order: a hash
    * layout keeps the task count but scatters every key range over all
    * batches, so the stats prune nothing. The batch size stays Spark's:
    * the CacheManager plans every cache of a session on one configs-off
    * clone of it, made at its first persist, so a batch size scoped
    * around this build is not seen, and one set before the first
    * persist stays for every later cache.
    */
  def cachedGraph(spark: SparkSession, dir: String): GraphState =
    SessionMemo.withRelease(spark, "cachedGraph", dir) {
      // dedup lineitem once and share it across the node branch and the
      // three hyperedge fan-out branches — otherwise each union branch
      // re-runs the 600k-row dedup window (no cross-branch CSE in Catalyst)
      val li = lineitemDeduped(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      def inKeyOrder[T](ds: Dataset[T], keys: String*): Dataset[T] =
        ds.repartitionByRange(width, keys.map(col): _*).sortWithinPartitions(keys.map(col): _*)
          .persist(StorageLevel.MEMORY_AND_DISK)
      val n = inKeyOrder(nodes(spark, dir, withPayload = false, li0 = Some(li)), "key")
      val e = inKeyOrder(edges(spark, dir, withPayload = false, li0 = Some(li)), "relType", "src")
      val g = GraphState(CatalystBridge.cachedLeaf(n), CatalystBridge.cachedLeaf(e))
      // warm the edge cache off-thread: the first caller is usually a
      // node-side query, so the edge build overlaps it on idle cores
      // instead of serializing in front of the first traversal. Block
      // locks make a concurrent first use safe (it waits per partition);
      // failures surface on first real use.
      val prefetch = new Thread(() =>
        try g.edges.count() catch { case _: Throwable => () })
      prefetch.setName("graft-edge-prefetch")
      prefetch.setDaemon(true)
      prefetch.start()
      // unpersist order, dependents first: uncaching `li` while `n`/`e`
      // are still cached would make the CacheManager re-plan them
      CachedGraph(g, Seq(n, e, li))
    }(_.persisted.foreach(_.unpersist())).graph

  /** Canonical triangle list `(x1 < x2 < x3)` of the co-purchase graph —
    * the standing artifact the triangle family reads (g36 census count,
    * g55 per-node features, g59 k-truss peel input) instead of each
    * paying the degree-ordered wedge enumeration.
    */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.withRelease(spark, "copurchaseTriangles", dir) {
      // scan the durable artifact (the wedge enumeration lives in its
      // refresh under [[storedCopurchaseTriangles]])
      storedCopurchaseTriangles(spark, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(_.unpersist())

  /** Session memo of the LEVEL-ONE coarsening of the weighted
    * co-purchase graph — the shared starting state of the whole
    * multilevel-partitioning arc (g67 stats, g68 initial partition, g70
    * refinement, g71 trajectory descent). The level-one
    * matching+contraction is the most expensive level by construction
    * (every later level runs on the halved graph), and all four queries
    * used to pay it separately. Its five tables are local checkpoints,
    * so a replacing session frees their blocks.
    */
  def coarsenLevelOne(spark: SparkSession, dir: String): graft.plans.Matching.CoarsenLevel =
    SessionMemo.withRelease(spark, "coarsenLevelOne", dir) {
      graft.plans.Matching.coarsenLevel(
        weightedCopurchaseEdges(spark, dir), op = "coarsenLevelOne")
    } { l =>
      Seq(l.e, l.sel, l.superOf, l.rek, l.coarse).foreach(CatalystBridge.unpersistCheckpoint)
    }

  // ---- persistent maintained artifacts (ArtifactStore-backed) ----------
  //
  // The session memos above die with their session; these write the same
  // derived tables ONCE as bucketed parquet under graft.core.ArtifactStore
  // (bucket column = the join/group key every consumer uses) and re-read
  // them from the store — the durable "built once, reused across exports"
  // form. Invalidation: the source-parquet fingerprint (file names, sizes,
  // mtimes), i.e. a lakehouse refresh rule, not a cache heuristic.

  private def artTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** The REFRESH-side fact-table derivation of the co-purchase pair
    * join (`p < p2` per shared order) — deliberately un-memoized and
    * un-persisted: only artifact rebuild blocks call it (ranked
    * adjacency, weighted co-purchase), once per source fingerprint.
    * Session memos read the artifacts; calling this from a memo would
    * recreate the per-session fact-table rebuild the r14 restructure
    * removed (and a memo-reading artifact build would recurse).
    */
  private def copurchasePairJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitemDeduped(spark, dir)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
    li.join(li.withColumnsRenamed(Map("p" -> "p2")), "k")
      .filter(col("p") < col("p2"))
  }

  /** The STANDING ranked adjacency `(u, v, rk, deg)` of the undirected
    * co-purchase graph — what a deployed walk/export service keeps hot
    * (g54/g72's inline builds derive exactly this per session). Bucketed
    * and sorted by `u`: every walk step joins the frontier on `u`, so a
    * bucket-aware reader needs no adjacency shuffle at any corpus size.
    * This table's `(u, v)` projection IS the durable twin of
    * [[copurchaseEdgesMirrored]] — one artifact serving both the walk
    * ranks and the plain mirrored adjacency (two artifacts with
    * identical edge content would be a staleness bug waiting).
    */
  def storedRankedAdjacency(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"ranked_adj_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "u", 8) {
      val half = copurchasePairJoin(spark, dir)
        .select(col("p").as("u"), col("p2").as("v")).distinct()
      val e = half.unionByName(half.select(col("v").as("u"), col("u").as("v")))
      e.select(col("u"), col("v"),
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("v")).as("rk"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("u")).as("deg"))
    }

  /** [[weightedCopurchaseEdges]] as a store artifact (g66–g68/g70's
    * multilevel-partitioning input), bucketed by `u`.
    */
  def storedWeightedCopurchase(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"weighted_copurchase_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "u", 8) {
      copurchasePairJoin(spark, dir)
        .groupBy(col("p").as("u"), col("p2").as("v")).agg(count(lit(1)).as("w"))
    }

  /** [[transitionEdges]] as a store artifact (g58/g64's sequential
    * pattern input), bucketed by `src`.
    */
  def storedTransitionEdges(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"transition_edges_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("orders", "lineitem")),
        "src", 8) {
      val ord = table(spark, dir, "orders").select(
        col("o_custkey").as("c"), col("o_orderkey").as("k"),
        col("o_orderdate").as("dt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c").orderBy("dt", "k")
      val nxt = ord.withColumn("k2", lead(col("k"), 1).over(w))
        .filter(col("k2").isNotNull)
        .select(col("k"), col("k2"))
      val li = lineitemDeduped(spark, dir)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
      nxt.join(li, "k")
        .join(li.withColumnsRenamed(Map("k" -> "k2", "p" -> "p2")), "k2")
        .groupBy(col("p").as("src"), col("p2").as("dst"))
        .agg(count(lit(1)).as("n_transitions"))
    }

  /** [[copurchaseTriangles]] as a store artifact — the canonical
    * triangle list `(x1 < x2 < x3)` the k-truss family reads, bucketed
    * by `x1` (the peel's first join key). The session memo dies with
    * the JVM; this is the durable form a deployment refreshes with the
    * fact table. Gated by g84 (full-content checksum vs an independent
    * oracle enumeration).
    */
  def storedCopurchaseTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"copurchase_triangles_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "x1", 8) {
      // from the edge MEMO (itself an artifact scan), so a refresh
      // enumerates wedges off the bucketed adjacency, not the fact table
      graft.plans.Triangles.triangleList(copurchaseEdges(spark, dir))
    }

  /** The level-one coarsening's two durable products as store artifacts
    * (the session memo [[coarsenLevelOne]] vanishes on restart): the
    * contraction map `superOf (x → sx)` bucketed by `x` — every
    * project-to-coarse join keys on `x` — and the coarse multigraph
    * `(cu, cv, w)` bucketed by `cu`, the next level's edge input. The
    * intermediate per-level frames (`sel`, `rek`) are scaffolding a
    * deployment recomputes from these two, not artifacts. Gated by g85
    * (full-content checksums vs the inline matching+contraction).
    */
  def storedCoarsenSuperOf(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"coarsen_l1_superof_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "x", 8) {
      coarsenLevelOne(spark, dir).superOf
    }

  def storedCoarsenCoarse(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"coarsen_l1_coarse_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "cu", 8) {
      coarsenLevelOne(spark, dir).coarse
    }

  /** The g65 incremental-census STANDING BASE: the co-purchase edges the
    * deterministic `triwave:` coin assigns to the base graph (canonical
    * `u < v`, distinct by construction), bucketed by `u` — the merged-
    * adjacency build and the delta anti-join both key on it. The split
    * is 90% base / 10% delta: incremental maintenance models a standing
    * graph absorbing an arriving WAVE, so the delta must be
    * wave-proportioned, not half the corpus (the original 50/50 split
    * made the "incremental" query pay Σ min-degree over HALF the edges
    * — 37 s at sf1.0, as expensive as a rebuild, regardless of where
    * t_base came from). The coin threshold is baked into the artifact
    * NAME: artifact content depends on it, and the source fingerprint
    * alone cannot see a code-parameter change (the ArtifactStore
    * bucket-spec staleness lesson, applied to derivation params).
    */
  private val TriwaveBaseShare = 0.9

  def storedTriwaveBaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"triwave_base_edges_p90_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "u", 8) {
      val e = copurchaseEdges(spark, dir)
      e.filter(graft.functions.Sampling.hash01(
        concat(col("u").cast("string"), lit("_"), col("v").cast("string")),
        "triwave:") < TriwaveBaseShare)
    }

  /** The delta twin of [[storedTriwaveBaseEdges]] — the arriving 10%
    * wave, for callers composing the g65 refresh. */
  def triwaveDeltaEdges(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(spark, dir)
    e.filter(graft.functions.Sampling.hash01(
      concat(col("u").cast("string"), lit("_"), col("v").cast("string")),
      "triwave:") >= TriwaveBaseShare)
  }

  /** The standing base graph's triangle LIST as a store artifact — the
    * base census `t_base` is a count over this scan (parquet row-group
    * counts, no wedge join), which is what makes g65's maintenance
    * genuinely incremental: the full base census runs once per source
    * fingerprint at refresh time, never per query invocation.
    */
  def storedTriwaveBaseTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.core.ArtifactStore.bucketed(spark, s"triwave_base_tri_p90_${artTag(dir)}",
        graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
        "x1", 8) {
      graft.plans.Triangles.triangleList(storedTriwaveBaseEdges(spark, dir))
    }

  /** Store-driven merged-vs-split pick for the COUNT-granularity
    * incremental triangle refresh (g65): returns the standing base
    * adjacency MIRRORED `(x, y)` and bucketed by the probe key `x` —
    * the shape under which `Triangles.deltaAttributed`'s split-join
    * path probes it exchange-free — but ONLY when the standing mass
    * (the base-edge artifact's rebuild-time row count) is at/above the
    * measured crossover ([[graft.plans.Triangles.SplitCountsEdgeThreshold]]);
    * `None` keeps the merged path, the measured winner below it.
    *
    * The mirror is itself a store artifact sharing the base's SOURCE
    * fingerprint, so a lineitem change invalidates base and mirror
    * together — derivable-content staleness is handled by the same
    * mechanism as every other artifact, and the mirror is only ever
    * materialized once the pick first asks for it (sub-crossover
    * deployments never pay its footprint).
    */
  def triwaveBaseMirroredAuto(spark: SparkSession, dir: String,
      threshold: Long = graft.plans.Triangles.splitCountsEdgeThreshold): Option[DataFrame] = {
    storedTriwaveBaseEdges(spark, dir) // ensure the artifact + its meta are current
    val standing = graft.core.ArtifactStore.rowCount(s"triwave_base_edges_p90_${artTag(dir)}")
    if (!graft.plans.Triangles.preferSplitForCounts(standing, threshold)) None
    else Some(
      graft.core.ArtifactStore.bucketed(spark, s"triwave_base_adj_p90_${artTag(dir)}",
          graft.core.ArtifactStore.sourceFingerprint(dir, Seq("lineitem")),
          "x", 8) {
        val b = storedTriwaveBaseEdges(spark, dir)
        b.select(col("u").as("x"), col("v").as("y"))
          .unionAll(b.select(col("v").as("x"), col("u").as("y")))
      })
  }

  /** The standard admission thresholds the LSH config ledger is derived
    * at — p112's ledger rows, and the set [[derivedLshConfig]] accepts.
    */
  val LshLedgerThresholds: Seq[Double] = Seq(0.4, 0.7, 0.9, 0.95)

  /** The corpus-derived sign-LSH config LEDGER as a store artifact: one
    * row `(min_cos_milli, n_vectors, planes, tables)` per standard
    * threshold, fingerprinted on the embeddings source. The config is
    * CONTENT-DERIVED (a pure function of the corpus count), so the
    * lakehouse freshness rule applies to it exactly as to a derived
    * table — and the count scan that feeds `lshConfigFor` runs ONCE per
    * source fingerprint instead of once per consumer (p112's ledger and
    * p130's blocking shape + output columns each re-derived it before
    * r13). Thresholds are part of the artifact's CONTENT, so the list
    * lives in the code next to the builder; a threshold-list change is
    * a schema-visible content change callers would catch immediately.
    */
  def derivedLshConfigs(spark: SparkSession, dir: String): Map[Int, (Long, Int, Int)] =
    SessionMemo(spark, "derivedLshConfigs", dir) {
      val df = graft.core.ArtifactStore.bucketed(spark, s"lsh_config_${artTag(dir)}",
          graft.core.ArtifactStore.sourceFingerprint(dir, Seq("embeddings")),
          "min_cos_milli", 1) {
        val n = embeddingsCount(spark, dir)
        import spark.implicits._
        LshLedgerThresholds.map { mc =>
          val (pl, tb) = graft.functions.Similarity.lshConfigFor(n, mc)
          (math.round(mc * 1000).toInt, n, pl, tb)
        }.toDF("min_cos_milli", "n_vectors", "planes", "tables")
      }
      df.collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3)))).toMap
    }

  /** One ledger row: `(n_vectors, planes, tables)` at `minCos` (must be
    * one of [[LshLedgerThresholds]]).
    */
  def derivedLshConfig(spark: SparkSession, dir: String, minCos: Double): (Long, Int, Int) =
    derivedLshConfigs(spark, dir)(math.round(minCos * 1000).toInt)
}
