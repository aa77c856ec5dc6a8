package graft.core

import graft.SparkSpec
import graft.core.Transactions.TxBatch
import graft.model.{EdgeRow, NodeRow, NodeTypes}
import graft.sources.TpchGraph
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, min}

/** Plan pins for the point traffic of a coding session: key reads, hops
  * from one key and small commits probe only the keys they name. Jobs and
  * tasks are counted with a listener on the sf0.001 TPC-H graph as
  * `TpchGraph.cachedGraph` serves it: cached plan leaves, range-partitioned
  * on the key at the session width and sorted within each partition.
  */
class PointReadPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val base: GraphState = {
    val g = TpchGraph.cachedGraph(spark, sf)
    g.nodes.count(); g.edges.count()
    g
  }

  private lazy val width = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private lazy val order = base.nodes.filter(col("nodeType") === "order").agg(min("key")).head().getString(0)
  private lazy val placedBy = base.edges.filter(col("src") === order && col("relType") === "PlacedBy").head()
  /** The median lineitem key: no batch's min or max stat excludes it by itself. */
  private lazy val lineitem = {
    val keys = base.nodes.filter(col("nodeType") === "lineitem").select("key").collect().map(_.getString(0)).sorted
    keys(keys.length / 2)
  }

  private val site = NodeRow("contextnode_plan_1", NodeTypes.ContextNode, "Site", "{}")
  private def batch = TxBatch(Seq(site),
    Seq(EdgeRow(site.key, order, 1, "IsLocatedAt", "{}"), placedBy)) // the second is in the base

  /** The base graph and its sample keys, built before anything is counted. */
  private def ready(): Unit = { placedBy; lineitem }

  /** Jobs run by `body`, after the base graph and its sample keys are built. */
  private def jobs[T](body: => T): (T, Int) = {
    ready()
    JobCount.of(spark.sparkContext)(body)
  }

  private def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }

  private def scans(plan: SparkPlan): Seq[InMemoryTableScanExec] =
    collect(plan) { case s: InMemoryTableScanExec => s }

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

  test("a key read and a hop from one key scan at most the session width of partitions per cached leaf") {
    ready()
    Seq[() => DataFrame](
      () => base.nodeByKey(lineitem).toDF(),
      () => base.hop("PartOf", Some(lineitem)),
      () => base.hop("PlacedBy", Some(order))).foreach { read =>
      val (plan, tasks) = JobCount.tasksOf(spark.sparkContext)(executed(read()))
      val leaves = scans(plan).size
      assert(leaves > 0 && tasks <= leaves * width, s"$tasks tasks over $leaves leaves\n$plan")
    }
  }

  test("a key read decodes at most one cached batch, in one partition of the node leaf") {
    ready()
    Seq(lineitem, order, "nation_3").foreach { k =>
      val plan = Conf.scoped(spark)("spark.sql.inMemoryTableScanStatistics.enable" -> "true")(
        executed(base.nodeByKey(k).toDF()))
      val scan = scans(plan)
      assert(scan.size == 1, plan.toString)
      val (parts, batches) = (scan.head.readPartitions.value, scan.head.readBatches.value)
      assert(parts <= 1 && batches <= 1, s"$batches batches in $parts partitions\n$plan")
    }
  }
}
