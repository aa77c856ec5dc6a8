package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The queries that read memoized standing state return the same rows
  * whichever queries ran before them and whichever session asks: the memo
  * must not carry one query's or one session's state into another's answer.
  */
class MemoOrderSpec extends SparkSpec {

  private val consumers = Seq("g01_nodes_by_type", "g36_triangle_counts",
    "g40_bucketed_traverse", "g51_kcore", "g67_coarsen_level", "p22_lsh_near_dups",
    "p88_incremental_cc", "p112_lsh_autoconfig")

  private def rows(s: SparkSession, order: Seq[String]): Map[String, Seq[String]] =
    order.map(q => q -> graft.SparkEntry.queries(q)(s, sf).collect().map(_.toString).sorted.toSeq).toMap

  test("memo consumers give identical rows forward, reversed on a new session, and forward again") {
    val forward = rows(spark, consumers)
    val reversed = rows(spark.newSession(), consumers.reverse)
    val again = rows(spark, consumers)
    consumers.foreach { q =>
      assert(forward(q).nonEmpty, q)
      assert(reversed(q) == forward(q), q)
      assert(again(q) == forward(q), q)
    }
  }
}
