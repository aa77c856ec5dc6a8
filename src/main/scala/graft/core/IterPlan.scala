package graft.core

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Planning scope for per-round iterative loops (PageRank, HITS, k-core,
  * SCC, k-truss, HyperANF, MIS, matching, …).
  *
  * The loops cut lineage every round with `localCheckpoint` (see [[Ckpt]]).
  * Under AQE the checkpoint boundary DESTROYS the child plan's
  * partitioning: `Dataset.checkpoint` captures
  * `executedPlan.outputPartitioning` into the `LogicalRDD` leaf, and an
  * un-executed `AdaptiveSparkPlanExec` reports `UnknownPartitioning(0)`
  * (pinned by `IterPlanSpec`, and plans/r17/g52_hits_before.txt
  * shows every `Scan ExistingRDD` leaf as `UnknownPartitioning(0)`).
  * Consequence: every round re-Exchanges the LOOP-STATIC tables (the
  * edge set, the vertex set) from scratch — at lake scale that is one
  * corpus-sized shuffle per round that co-partitioning should have
  * eliminated outright (guide §2.4).
  *
  * With AQE disabled the non-adaptive physical plan's concrete
  * `hashpartitioning(k, P)` and its output ordering ARE captured across
  * the checkpoint (same spec), so a loop whose static tables are
  * repartitioned by their join key once (`keyed`) runs every round's
  * join zero-exchange and mostly zero-sort: the only per-round Exchange
  * left is the message aggregation itself — the §1.1 fundamental
  * shuffle of the recurrence.
  *
  * What AQE was buying inside the loop and why losing it is the right
  * trade HERE: (a) partition coalescing — the loop shuffles are
  * vertex-/frontier-sized at a fixed width, and the width is the
  * session's `spark.sql.shuffle.partitions` (cluster-sized in
  * production, cpus on the bench rig), not a local constant; (b)
  * runtime SMJ→broadcast promotion — inside the loop the sides a
  * broadcast would help with are exactly the corpus-scale tables the
  * r15/r16 merge-pin sweeps keep OUT of broadcasts; (c) skew-join
  * splitting — the loop joins become zero-exchange co-partitioned joins
  * (no shuffle left to split), and the remaining aggregate Exchange has
  * map-side partial combine, which AQE never splits anyway. The scope
  * is CONSTRUCTION-side: callers re-enter AQE for the final assembly
  * (filters, orderBy, limit) the moment the scope closes.
  */
object IterPlan {

  /** Loop shuffle width — the one width policy for iterative loops. With
    * AQE off nothing coalesces the loop's vertex-/frontier-sized
    * exchanges, so running them at the session's scan-sized width
    * (cluster-sized in production, cpus on the bench) pays a full task
    * wave per stage per round for partitions holding a few KB — measured
    * 2.5× on the matching family at sf0.1. The width is derived from the
    * session width (quarter, floor 8), not a constant: a cluster-width
    * session keeps a proportional loop width.
    */
  private[graft] def loopWidth(spark: SparkSession): String =
    math.max(8, spark.conf.get("spark.sql.shuffle.partitions").toInt / 4).toString

  /** Run `f` (an iterative plan CONSTRUCTION, including its per-round
    * `lckpt` calls and any per-round summary actions) with AQE disabled
    * so checkpoint boundaries preserve partitioning, at [[loopWidth]];
    * restores the session conf on exit ([[Conf.scoped]]).
    *
    * Assumes no other query runs on the session concurrently: the scope
    * is session-global, so a concurrent query would plan with AQE off
    * at loop width too.
    */
  def coPartitioned[A](spark: SparkSession)(f: => A): A =
    Conf.scoped(spark)(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth(spark))(f)

  /** Dev-only per-round plan dump (`SPARK_GRAFT_ITER_DEBUG=1`): the
    * final query plan hides every round behind its checkpoint leaf, so
    * the round-shape evidence (exchange count, join strategy, captured
    * partitioning) is only visible from inside the loop.
    */
  def debugDump(tag: String, df: Dataset[_]): Unit =
    if (sys.env.get("SPARK_GRAFT_ITER_DEBUG").contains("1"))
      System.err.println(s"[iterplan] $tag plan:\n" +
        df.queryExecution.executedPlan.toString)

  implicit class IterDatasetOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Shape a LOOP-STATIC table for zero-exchange per-round joins: one
      * Exchange by the loop's join key + one in-partition sort, paid at
      * construction, replacing that table's per-round Exchange+Sort for
      * every round (the captured `hashpartitioning`/ordering satisfies
      * each round's join requirement). Must be followed by `lckpt`
      * inside a [[coPartitioned]] scope — outside it the checkpoint
      * reverts to `UnknownPartitioning` and the shaping is wasted work.
      */
    def keyed(keys: Column*): Dataset[T] =
      ds.repartition(keys: _*).sortWithinPartitions(keys: _*)

    def keyed(key: String, more: String*): Dataset[T] =
      keyed((key +: more).map(col): _*)
  }
}
