package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, greatest, least}

/** Shaping helpers for per-round iterative loops (PageRank, HITS,
  * k-core, SCC, k-truss, HyperANF, MIS, matching, …).
  *
  * Each round cuts lineage with [[Ckpt]]'s `lckpt`, whose leaf keeps the
  * partitioning its rows were stored in. A loop-static table (the edge
  * set, the vertex set) shaped once by the loop's join key with `keyed`
  * is then joined every round without re-exchanging it; the per-round
  * Exchanges left are the message aggregation and the side that changes
  * each round. AQE stays on throughout and the session conf is never
  * touched, so a loop plans the same whatever else runs on the session.
  */
object IterPlan {

  /** Dev-only per-round plan dump (`SPARK_GRAFT_ITER_DEBUG=1`): the
    * final query plan hides every round behind its checkpoint leaf, so
    * the round-shape evidence (exchange count, join strategy, the leaf
    * partitioning each round reads) is only visible from inside the
    * loop. Called after `df.lckpt()`, it prints the adaptive plan that
    * checkpoint ran, in its final form.
    */
  def debugDump(tag: String, df: Dataset[_]): Unit =
    if (sys.env.get("SPARK_GRAFT_ITER_DEBUG").contains("1"))
      System.err.println(s"[iterplan] $tag plan:\n" +
        df.queryExecution.executedPlan.toString)

  /** The simple undirected graph of `edges` `(u, v)` (any orientation):
    * one row per unordered pair, least endpoint first, self-loops out.
    * No `isNotNull` test is needed: `least`/`greatest` skip a null, so a
    * row with one null endpoint reads as a self-loop, and a row with two
    * nulls compares null; the `=!=` filter drops both. Catalyst would
    * not drop such a test itself, so writing one only adds conjuncts.
    */
  def simpleUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  implicit class IterDatasetOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Shape a LOOP-STATIC table for zero-exchange per-round joins: one
      * Exchange by the loop's join key + one in-partition sort, paid at
      * construction, replacing that table's per-round Exchange+Sort for
      * every round (the leaf `lckpt` keeps `hashpartitioning`/ordering,
      * which satisfies each round's join requirement). The explicit
      * session width keeps AQE from coalescing the exchange, so the
      * other join side is exchanged to this table's partitioning and
      * not the other way round.
      */
    def keyed(keys: Column*): Dataset[T] = {
      val width = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      ds.repartition(width, keys: _*).sortWithinPartitions(keys: _*)
    }

    def keyed(key: String, more: String*): Dataset[T] =
      keyed((key +: more).map(col): _*)
  }
}
