package graft.core

import graft.SparkSpec
import graft.core.Transactions.TxBatch
import graft.model.{EdgeRow, NodeRow, NodeTypes}
import graft.sources.TpchGraph
import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll

/** Plan pins for the point traffic of a coding session: key reads, hops
  * from one key and small commits probe only the keys they name. Jobs are
  * counted with a listener on the sf0.001 TPC-H graph, persisted behind
  * plan leaves as `TpchGraph.cachedGraph` serves it.
  */
class PointReadPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  private lazy val persisted: (Dataset[NodeRow], Dataset[EdgeRow]) = (
    TpchGraph.nodes(spark, sf, withPayload = false).persist(StorageLevel.MEMORY_AND_DISK),
    TpchGraph.edges(spark, sf, withPayload = false).persist(StorageLevel.MEMORY_AND_DISK))

  private lazy val base: GraphState = {
    val g = GraphState(CatalystBridge.cachedLeaf(persisted._1), CatalystBridge.cachedLeaf(persisted._2))
    g.nodes.count(); g.edges.count()
    g
  }

  override def afterAll(): Unit = {
    persisted._1.unpersist(); persisted._2.unpersist()
    super.afterAll()
  }

  private lazy val order = base.nodes.filter(col("nodeType") === "order").agg(min("key")).head().getString(0)
  private lazy val placedBy = base.edges.filter(col("src") === order && col("relType") === "PlacedBy").head()

  private val site = NodeRow("contextnode_plan_1", NodeTypes.ContextNode, "Site", "{}")
  private def batch = TxBatch(Seq(site),
    Seq(EdgeRow(site.key, order, 1, "IsLocatedAt", "{}"), placedBy)) // the second is in the base

  /** Jobs run by `body`, after the base graph and its sample keys are built. */
  private def jobs[T](body: => T): (T, Int) = {
    placedBy
    JobCount.of(spark.sparkContext)(body)
  }

  private def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }

  test("a commit runs at most 2 jobs, a rejected one 1") {
    val (ok, n) = jobs(Transactions.commit(base, batch))
    assert(ok.isRight && n <= 2, s"$n jobs")
    val (dup, nDup) = jobs(Transactions.commit(base, TxBatch(Seq(site.copy(key = order)), Nil)))
    assert(dup.isLeft && nDup == 1, s"$nDup jobs")
  }

  test("nodesByKeys runs 1 job") {
    val keys = Seq(order, "nation_3", order)
    val (rows, n) = jobs(base.nodesByKeys(keys).collect())
    assert(rows.map(_.getString(0)).toSeq == keys)
    assert(n == 1, s"$n jobs")
  }

  test("hop from one key runs at most 2 jobs and broadcasts the edges, not the nodes") {
    val (plan, n) = jobs(executed(base.hop("PlacedBy", Some(order))))
    assert(n <= 2, s"$n jobs")
    val built = collect(plan) { case b: BroadcastExchangeExec => b.output.map(_.name).toSet }
    assert(built.nonEmpty, plan.toString)
    assert(built.forall(cols => cols.contains("dst") && !cols.contains("key")), plan.toString)
  }

  test("a read after a commit has no aggregate over the edge set") {
    val g = Transactions.commit(base, batch).fold(sys.error, identity)
    val plan = executed(g.hop("PlacedBy", Some(order)))
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan.toString)
    assert(g.edges.count() == base.edges.count() + 1)
  }
}
