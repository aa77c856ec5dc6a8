package graft.core

import graft.SparkSpec
import graft.core.Transactions.TxBatch
import graft.model.{EdgeRow, Keys, NodeRow, NodeTypes}
import graft.sources.TpchGraph
import org.apache.spark.sql.Dataset

/** `Transactions.commit` adds a batch edge only if no base edge equals it,
  * and does not dedup the base. That is `addRelations`' tuple dedup only
  * while the base edge set is distinct, so the edge sets commits start
  * from, and the states they return, must have no repeated row.
  */
class EdgeSetDistinctSpec extends SparkSpec {

  private def assertDistinct(edges: Dataset[EdgeRow]): Unit = {
    val n = edges.count()
    assert(n > 0)
    assert(edges.distinct().count() == n)
  }

  test("TpchGraph.cachedGraph edges are distinct") {
    assertDistinct(TpchGraph.cachedGraph(spark, sf).edges)
  }

  test("Seed.seedGraph edges are distinct, with and without the Next edges") {
    assertDistinct(Seed.seedGraph(spark).edges)
    assertDistinct(Seed.seedGraph(spark, withNextEdges = true).edges)
  }

  test("chained commits that re-commit an identical edge keep the edge set distinct") {
    val year = Keys.calYearKey(0)
    def ctx(i: Int) = NodeRow(s"contextnode_distinct_$i", NodeTypes.ContextNode, s"Site $i", "{}")
    def at(i: Int, dst: String) = EdgeRow(ctx(i).key, dst, 1, "IsLocatedAt", "{}")
    val base = Seed.seedGraph(spark, withNextEdges = true)
    val batches = Seq(
      TxBatch(Seq(ctx(1)), Seq(at(1, year))),
      // re-commits the first batch's edge next to new ones
      TxBatch(Seq(ctx(2)), Seq(at(2, year), at(1, year), at(2, ctx(1).key))),
      TxBatch(Nil, Seq(at(1, year), at(2, year))),
      // an identical edge twice within one batch
      TxBatch(Seq(ctx(3)), Seq(at(3, year), at(3, year))))
    val end = batches.foldLeft(base)((g, b) => Transactions.commit(g, b).fold(sys.error, identity))
    assertDistinct(end.edges)
    assert(end.edges.count() == base.edges.count() + 4)
  }
}
