package graft.core

import graft.SparkSpec
import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** What [[IterPlan.coPartitioned]] exists for: a `localCheckpoint` leaf
  * keeps its child's hash partitioning only when the plan was built with
  * AQE off. Under AQE the leaf captures the un-executed adaptive plan's
  * `UnknownPartitioning`, and every round re-exchanges the loop-static
  * tables; inside the scope a join of two checkpointed, co-partitioned
  * tables needs no exchange of its own.
  */
class IterPlanSpec extends SparkSpec {

  private def leafPartitioning(df: DataFrame): Seq[Partitioning] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRDD => l.outputPartitioning }

  /** A loop-static edge table keyed on `src` and a rank table aggregated
    * on `key`, both checkpointed as a loop round does. */
  private def tables(): (DataFrame, DataFrame) = {
    val edges = spark.range(10000)
      .select((col("id") % 500).as("src"), (col("id") % 700).as("dst"))
      .distinct().repartition(col("src")).lckpt(eager = false)
    // keyed off `id % 500`, not `id`: an aggregate straight over a range
    // reuses the range's own rangepartitioning and never hash-exchanges
    val ranks = spark.range(2000)
      .select((col("id") % 500).as("key"), lit(1000000L).as("rank"))
      .groupBy("key").agg(sum("rank").as("rank")).lckpt(eager = false)
    (edges, ranks)
  }

  test("outside coPartitioned an AQE checkpoint leaf reports UnknownPartitioning") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (edges, ranks) = tables()
    for (t <- Seq(edges, ranks)) {
      val parts = leafPartitioning(t)
      assert(parts.nonEmpty && parts.forall(_.isInstanceOf[UnknownPartitioning]), parts)
    }
  }

  test("inside coPartitioned the leaf keeps hashpartitioning and the join adds no exchange") {
    IterPlan.coPartitioned(spark) {
      val (edges, ranks) = tables()
      for (t <- Seq(edges, ranks)) {
        val parts = leafPartitioning(t)
        assert(parts.nonEmpty && parts.forall(_.isInstanceOf[HashPartitioning]), parts)
      }
      // merge-pinned as the loops pin it: the leaves' captured stats read
      // broadcast-small, and a broadcast would hide the co-partitioning
      val inc = edges.hint("merge").join(ranks, col("src") === col("key"))
        .groupBy("dst").agg(sum(expr("rank div 1")).as("inc"))
      inc.write.format("noop").mode("overwrite").save()
      val plan = inc.queryExecution.executedPlan
      // the aggregate's shuffle is the only one; ReusedExchangeExec is not
      // an Exchange, so a reused subtree would not count here
      val exchanges = plan.collect { case x: Exchange => x }
      assert(exchanges.size == 1, plan.toString)
    }
  }
}
