package graft.sources

import graft.SparkSpec
import graft.core.{GraphState, Transactions}
import graft.core.Transactions.TxBatch
import graft.model.{EdgeRow, NodeRow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.StorageLevel

/** [[TpchGraph.cachedGraph]] stays cached under the unions callers put on
  * it: `unionByName` flattens nested unions while building the plan, so a
  * persisted 7-branch union would be spliced into the caller's union and
  * miss the cache. The executed plans must scan the in-memory relation
  * and never the parquet sources.
  */
class TpchGraphCacheSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Executed leaves, descending through AQE stages but not into a
    * cached relation's own (build-time) plan. */
  private def leaves(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan: SparkPlan = df.queryExecution.executedPlan
    (collect(plan) { case s: InMemoryTableScanExec => s }.size,
     collect(plan) { case s: FileSourceScanExec => s }.size)
  }

  private def assertCacheOnly(df: DataFrame): Unit = {
    val (mem, files) = leaves(df)
    assert(mem > 0, df.queryExecution.executedPlan.toString)
    assert(files == 0, df.queryExecution.executedPlan.toString)
  }

  private def extra = GraphState(
    Seq(NodeRow("site_cache_0", "contextnode", "Site 0", "{}")).toDS(),
    Seq(EdgeRow("site_cache_0", "nation_0", 1, "IsLocatedAt", "{}")).toDS())

  private def first(g: GraphState, t: String): String =
    g.nodes.filter(col("nodeType") === t).agg(min("key")).head().getString(0)

  test("a union on the cached graph reads the in-memory relation, not parquet") {
    val g = TpchGraph.cachedGraph(spark, sf)
    val k = first(g, "order")
    assertCacheOnly(g.nodes.unionByName(extra.nodes).filter(col("key") === k).toDF())
    assertCacheOnly(g.edges.unionByName(extra.edges).filter(col("src") === k).toDF())
  }

  test("reads after two chained commits on that union stay off parquet and match the uncached graph") {
    val cached = TpchGraph.cachedGraph(spark, sf)
    val uncached = GraphState(TpchGraph.nodes(spark, sf, withPayload = false),
      TpchGraph.edges(spark, sf, withPayload = false))
    val order = first(cached, "order")
    val li = first(cached, "lineitem")
    val batches = Seq(
      TxBatch(Seq(NodeRow("site_cache_1", "contextnode", "Site 1", "{}")),
        Seq(EdgeRow("site_cache_1", order, 1, "IsLocatedAt", "{}"))),
      TxBatch(Seq(NodeRow("site_cache_2", "contextnode", "Site 2", "{}")),
        Seq(EdgeRow("site_cache_2", "site_cache_1", 1, "IsLocatedAt", "{}"),
          EdgeRow(li, "site_cache_2", 1, "PartOf", "{}"))))
    def chain(g: GraphState): GraphState = {
      val base = GraphState(g.nodes.unionByName(extra.nodes), g.edges.unionByName(extra.edges))
      batches.foldLeft(base)((s, b) => Transactions.commit(s, b).fold(sys.error, identity))
    }
    val (now, old) = (chain(cached), chain(uncached))
    val reads: Seq[GraphState => DataFrame] = Seq(
      _.nodeByKey(order).toDF(),
      _.nodeByKey("site_cache_2").toDF(),
      _.hop("PlacedBy", Some(order)),
      _.hop("IsLocatedAt", Some("site_cache_2")),
      _.twoHop("PartOf", "PlacedBy").filter(col("a") === li))
    reads.foreach { read =>
      val df = read(now)
      assertCacheOnly(df)
      val got = df.collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == read(old).collect().map(_.toString).sorted.toSeq)
    }
  }

  test("twoHop and a self-join over leaves of sorted persists match the uncached graph") {
    // a sorted cache reports an output ordering, which a self-join's
    // fresh instance of the leaf must carry over to its new attributes
    val n = TpchGraph.nodes(spark, sf, withPayload = false)
      .sortWithinPartitions("key").persist(StorageLevel.MEMORY_AND_DISK)
    val e = TpchGraph.edges(spark, sf, withPayload = false)
      .sortWithinPartitions("relType", "src").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sorted = GraphState(CatalystBridge.cachedLeaf(n), CatalystBridge.cachedLeaf(e))
      val plain = GraphState(TpchGraph.nodes(spark, sf, withPayload = false),
        TpchGraph.edges(spark, sf, withPayload = false))
      val li = first(plain, "lineitem")
      val reads: Seq[GraphState => DataFrame] = Seq(
        _.twoHop("PartOf", "PlacedBy").filter(col("a") === li),
        g => {
          val orders = g.nodes.filter(col("nodeType") === "order")
          orders.as("x").join(g.nodes.as("y"), col("x.key") === col("y.key"))
            .select(col("x.key"), col("y.nodeType"))
        })
      reads.foreach { read =>
        val got = read(sorted).collect().map(_.toString).sorted.toSeq
        assert(got.nonEmpty)
        assert(got == read(plain).collect().map(_.toString).sorted.toSeq)
      }
    } finally { n.unpersist(); e.unpersist() }
  }

  test("a new session rebuilds the graph and frees every persist of the old one") {
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    def build(s: org.apache.spark.sql.SparkSession): GraphState = {
      val g = TpchGraph.cachedGraph(s, sf)
      g.nodes.count(); g.edges.count()
      g
    }
    try {
      val p0 = ids
      val s1 = spark.newSession()
      val g1 = build(s1)
      assert(TpchGraph.cachedGraph(s1, sf) eq g1)
      val p1 = ids
      val own = p1 -- p0
      // lineitem dedup, nodes and edges
      assert(own.size == 3, s"new persists: $own")
      val g2 = build(spark.newSession())
      assert(g2 ne g1)
      val p2 = ids
      assert((own & p2).isEmpty, s"left persisted: ${own & p2}")
      assert(p2.size == p1.size)
    } finally build(spark)
  }
}
