package graft.core

import graft.SparkSpec
import graft.core.Ckpt._
import graft.core.IterPlan.IterDatasetOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, HashPartitioningLike,
  Partitioning}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The leaf `lckpt` leaves behind keeps the partitioning its rows were
  * stored in, with AQE on: a `keyed` loop-static table reports hash
  * partitioning at the session width, an aggregate reports its final
  * (possibly coalesced) hash partitioning, and a join between the two
  * follows the one size rule: the small side broadcasts, and with
  * broadcasts off the join sort-merges exchanging only the aggregate side.
  */
class IterPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def leafPartitioning(df: DataFrame): Seq[Partitioning] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRDD => l.outputPartitioning }

  private def width: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** A loop-static edge table keyed on `src` and a rank table aggregated
    * on `key`, both checkpointed as a loop round does. */
  private def tables(): (DataFrame, DataFrame) = {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val edges = spark.range(10000)
      .select((col("id") % 500).as("src"), (col("id") % 700).as("dst"))
      .distinct().keyed("src").lckpt()
    // keyed off `id % 500`, not `id`: an aggregate straight over a range
    // reuses the range's own rangepartitioning and never hash-exchanges
    val ranks = spark.range(2000)
      .select((col("id") % 500).as("key"), lit(1000000L).as("rank"))
      .groupBy("key").agg(sum("rank").as("rank")).lckpt()
    (edges, ranks)
  }

  private def keyNames(p: HashPartitioningLike): Seq[String] =
    p.expressions.flatMap(_.references.map(_.name))

  test("a keyed leaf reports hashpartitioning at the session width") {
    val (edges, _) = tables()
    leafPartitioning(edges) match {
      case Seq(h: HashPartitioning) =>
        assert(h.numPartitions == width, h)
        assert(keyNames(h) == Seq("src"), h)
      case other => fail(s"expected one hash-partitioned leaf, got $other")
    }
  }

  test("an aggregate leaf reports its final hash partitioning, not Unknown") {
    val (_, ranks) = tables()
    leafPartitioning(ranks) match {
      // HashPartitioningLike covers AQE's coalesced form of the same hash
      case Seq(h: HashPartitioningLike) =>
        assert(keyNames(h) == Seq("key"), h)
        assert(h.numPartitions == ranks.rdd.getNumPartitions, h)
      case other => fail(s"expected one hash-partitioned leaf, got $other")
    }
  }

  /** The rank-weighted message sum of a PageRank round, run; returns the
    * final plan and the keyed edge side of its one join. */
  private def roundJoin(): (SparkPlan, SparkPlan) = {
    val (edges, ranks) = tables()
    val keyedRdd = edges.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRDD => l.rdd
    }.get
    val inc = edges.join(ranks, col("src") === col("key"))
      .groupBy("dst").agg(sum(expr("rank div 1")).as("inc"))
    inc.write.format("noop").mode("overwrite").save()
    val plan = inc.queryExecution.executedPlan
    def readsKeyed(p: SparkPlan): Boolean =
      find(p) { case s: RDDScanExec => s.rdd eq keyedRdd; case _ => false }.isDefined
    val joins = collect(plan) {
      case j: BroadcastHashJoinExec => j
      case j: SortMergeJoinExec => j
    }
    assert(joins.size == 1, plan.toString)
    val keyedSide = joins.head.children.filter(readsKeyed)
    assert(keyedSide.size == 1, plan.toString)
    (plan, keyedSide.head)
  }

  // AdaptiveSparkPlanHelper's collect descends into the query stages, so
  // a shuffle stage on the keyed side would show in these checks

  test("at the session's threshold the small rank leaf broadcasts against the keyed edges") {
    val (plan, keyedSide) = roundJoin()
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1, plan.toString)
    assert(collect(keyedSide) { case x: Exchange => x }.isEmpty, plan.toString)
  }

  test("a join of the two adds no exchange or sort above the keyed side") {
    Conf.scoped(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (plan, keyedSide) = roundJoin()
      assert(collect(plan) { case j: SortMergeJoinExec => j }.size == 1, plan.toString)
      assert(collect(keyedSide) { case x: Exchange => x }.isEmpty, plan.toString)
      assert(collect(keyedSide) { case s: SortExec => s }.isEmpty, plan.toString)
    }
  }

  test("simpleUndirected: one row per unordered pair, least endpoint first, loops and nulls out") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Some(3L), Some(3L)), (None, Some(4L)), (Some(5L), None), (None, None),
      (Some(9L), Some(4L))).toDF("u", "v").lckpt()
    val und = IterPlan.simpleUndirected(edges)
    assert(und.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      Seq((1L, 2L), (4L, 9L)))
    val conds = und.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
    assert(conds.nonEmpty)
    assert(!conds.exists(_.exists(_.isInstanceOf[IsNotNull])), conds.mkString("; "))
  }
}
