package graft.core

import graft.SparkSpec
import graft.model.{EdgeRow, NodeRow}

class GraphStateSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: GraphState = {
    val nodes = Seq(
      NodeRow("taxonnode_genus_salix", "taxonnode", "Salix", "{}"),
      NodeRow("taxonnode_family_salicaceae", "taxonnode", "Salicaceae", "{}"),
      NodeRow("contextnode_a", "contextnode", "Site A", "{}")
    ).toDS()
    val edges = Seq(
      EdgeRow("taxonnode_genus_salix", "taxonnode_family_salicaceae", 1, "IsA", "{}")
    ).toDS()
    GraphState(nodes, edges)
  }

  test("M1 addNodes errors on duplicate key (ref Graph.fs:63-70)") {
    val g = fixture
    val dup = Seq(NodeRow("contextnode_a", "contextnode", "Other", "{}")).toDS()
    g.addNodes(dup) match {
      case Left(keys) => assert(keys == Seq("contextnode_a"))
      case Right(_)   => fail("expected duplicate-key error")
    }
    val fresh = Seq(NodeRow("contextnode_b", "contextnode", "Site B", "{}")).toDS()
    assert(g.addNodes(fresh).toOption.get.nodes.count() == 4)
  }

  test("P1/P2 nodesByKeys returns rows in input order, repeats keys given twice, skips missing ones") {
    val g = fixture
    val keys = Seq("contextnode_a", "missing", "taxonnode_genus_salix", "taxonnode_family_salicaceae",
      "contextnode_a")
    val got = g.nodesByKeys(keys)
    assert(got.columns.toSeq == Seq("key", "nodeType", "prettyName", "payload"))
    val rows = got.collect().toSeq
    assert(rows.map(_.getString(0)) == keys.filter(_ != "missing"))
    assert(rows.head.getString(2) == "Site A")
    assert(g.nodesByKeys(Nil).collect().isEmpty)
    assert(g.nodesByKeys(Seq("missing")).collect().isEmpty)
  }

  test("M2 addNodesOrSkip is idempotent and keeps the old row (ref Graph.fs:72-79)") {
    val g = fixture
    val mixed = Seq(
      NodeRow("contextnode_a", "contextnode", "SHOULD_NOT_APPEAR", "{}"),
      NodeRow("contextnode_b", "contextnode", "Site B", "{}")
    ).toDS()
    val g2 = g.addNodesOrSkip(mixed)
    assert(g2.nodes.count() == 4)
    assert(g2.nodeByKey("contextnode_a").head().prettyName == "Site A")
    // idempotent: applying again changes nothing
    assert(g2.addNodesOrSkip(mixed).nodes.count() == 4)
  }

  test("M4 replaceNodes swaps payload keeping key (ref Graph.fs:81-90)") {
    val g = fixture
    val repl = Seq(NodeRow("contextnode_a", "contextnode", "Renamed", """{"x":1}""")).toDS()
    val g2 = g.replaceNodes(repl)
    assert(g2.nodes.count() == 3)
    assert(g2.nodeByKey("contextnode_a").head().prettyName == "Renamed")
  }

  test("M5 removeNodes cascades to in- and out-edges (ref Graph.fs:119-132)") {
    val g = fixture
    val g2 = g.removeNodes(Seq("taxonnode_family_salicaceae").toDS())
    assert(g2.nodes.count() == 2)
    assert(g2.edges.count() == 0) // the IsA edge pointed at the removed node
    val g3 = g.removeNodes(Seq("taxonnode_genus_salix").toDS())
    assert(g3.edges.count() == 0) // out-edge removed with its source
  }

  test("M6 addRelations dedups identical tuples and checks BOTH endpoints (ref Graph.fs:134-152)") {
    val g = fixture
    val dupEdge = Seq(
      EdgeRow("taxonnode_genus_salix", "taxonnode_family_salicaceae", 1, "IsA", "{}"),
      EdgeRow("taxonnode_genus_salix", "taxonnode_family_salicaceae", 1, "IsA", "{}")
    ).toDS()
    g.addRelations(dupEdge) match {
      case Right(g2) => assert(g2.edges.count() == 1)
      case Left(e)   => fail(s"unexpected FK failure: $e")
    }
    // dangling sink must be rejected (the reference's bug checked src twice)
    val dangling = Seq(EdgeRow("taxonnode_genus_salix", "missing_node", 1, "IsA", "{}")).toDS()
    assert(g.addRelations(dangling).isLeft)
    val danglingSrc = Seq(EdgeRow("missing_node", "taxonnode_genus_salix", 1, "IsA", "{}")).toDS()
    assert(g.addRelations(danglingSrc).isLeft)
  }

  test("M6+ constraint table: declared endpoint types enforced, absent relTypes open (ref Graph.fs:648-656 TODO)") {
    val g = fixture
    val cons = Map("IsA" -> ("taxonnode", "taxonnode"))
    // conforming edge accepted (reversed IsA between two taxonnodes)
    val ok = Seq(EdgeRow("taxonnode_family_salicaceae", "taxonnode_genus_salix", 1, "IsA", "{}")).toDS()
    assert(g.addRelationsConstrained(ok, cons).isRight)
    // contextnode source violates the IsA declaration
    val bad = Seq(EdgeRow("contextnode_a", "taxonnode_genus_salix", 1, "IsA", "{}")).toDS()
    g.addRelationsConstrained(bad, cons) match {
      case Left(errs) => assert(errs.exists(_.contains("IsA requires taxonnode->taxonnode")), errs)
      case Right(_)   => fail("type-violating edge accepted")
    }
    // the SAME edge under an undeclared relType is unconstrained
    val open = Seq(EdgeRow("contextnode_a", "taxonnode_genus_salix", 1, "LocatedAt", "{}")).toDS()
    assert(g.addRelationsConstrained(open, cons).isRight)
    // dangling endpoints still rejected before type checks
    val dangling = Seq(EdgeRow("missing", "taxonnode_genus_salix", 1, "IsA", "{}")).toDS()
    assert(g.addRelationsConstrained(dangling, cons).isLeft)
  }

  test("J1 nodeIdsByRelation returns sinks of matching typed edges (ref Graph.fs:744-764)") {
    val ids = fixture.nodeIdsByRelation("taxonnode_genus_salix", "IsA")
      .collect().map(_.getString(0))
    assert(ids.toSeq == Seq("taxonnode_family_salicaceae"))
    assert(fixture.nodeIdsByRelation("taxonnode_genus_salix", "Next").count() == 0)
  }

  test("J4 withOutEdge finds nodes with at least one typed out-edge") {
    val keys = fixture.withOutEdge("IsA").collect().map(_.key)
    assert(keys.toSeq == Seq("taxonnode_genus_salix"))
  }

  test("index is sorted and distinct (O1/A4, ref Storage.fs:160-171)") {
    val g = fixture
    val rows = g.index().collect().map(_.getString(0))
    assert(rows.toSeq == rows.toSeq.sorted)
  }

  test("GraphIO round-trips a graph through partitioned parquet (S1-S6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val g = fixture
    GraphIO.save(g, dir)
    val g2 = GraphIO.load(spark, dir)
    assert(g2.nodes.count() == 3 && g2.edges.count() == 1)
    assert(g2.nodeByKey("contextnode_a").head().prettyName == "Site A")
  }

  test("diff reports added/removed/changed nodes and added/removed edges") {
    import spark.implicits._
    val before = fixture
    val after = GraphState(
      Seq(
        NodeRow("taxonnode_genus_salix", "taxonnode", "Salix", "{}"),
        NodeRow("taxonnode_family_salicaceae", "taxonnode", "RENAMED", "{}"), // changed
        NodeRow("contextnode_b", "contextnode", "Site B", "{}")               // added
        // contextnode_a removed
      ).toDS(),
      Seq(
        EdgeRow("taxonnode_genus_salix", "taxonnode_family_salicaceae", 1, "IsA", "{}"),
        EdgeRow("contextnode_b", "taxonnode_genus_salix", 1, "HasProxyInfo", "{}") // added
      ).toDS())
    val d = before.diff(after)
    assert(d.addedNodes.collect().map(_.key).toSeq == Seq("contextnode_b"))
    assert(d.removedNodes.collect().map(_.key).toSeq == Seq("contextnode_a"))
    assert(d.changedNodes.collect().map(n => (n.key, n.prettyName)).toSeq ==
      Seq(("taxonnode_family_salicaceae", "RENAMED")))
    assert(d.addedEdges.collect().map(_.relType).toSeq == Seq("HasProxyInfo"))
    assert(d.removedEdges.isEmpty)
  }

  test("approx_count_distinct tracks exact distinct within HLL error (sketch aggregation)") {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct}
    val df = spark.range(100000).select((col("id") % 5000).as("v"))
    val r = df.agg(
      countDistinct(col("v")).as("exact"),
      approx_count_distinct(col("v"), 0.02).as("approx")).head()
    val exact: Long = r.getLong(0)
    val approx: Long = r.getLong(1)
    assert(exact == 5000L)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx")
  }
}
