package graft.core

import java.util.UUID
import graft.SparkSpec
import graft.model._

class TransactionsSpec extends SparkSpec {
  import spark.implicits._

  private val u1 = UUID.fromString("00000000-0000-0000-0000-000000000001")
  private val u2 = UUID.fromString("00000000-0000-0000-0000-000000000002")
  private val u3 = UUID.fromString("00000000-0000-0000-0000-000000000003")

  private def baseGraph: GraphState = {
    val seeded = Seed.seedGraph(spark)
    val extra = Seq(
      NodeRow("sourcenode_pub_smith_tet_1987", NodeTypes.SourceNode, "Smith 1987", "{}"),
      NodeRow(Keys.morphotypeKey("pollen", "Salix-type"), NodeTypes.BioticProxyNode, "Salix-type pollen", "{}"),
      NodeRow(Keys.key(NodeTypes.InferenceMethodNode, "implicit"), NodeTypes.InferenceMethodNode, "Implicit", "{}"),
      NodeRow(Keys.taxonKey("genus", "Salix"), NodeTypes.TaxonNode, "Salix", "{}")
    ).toDS()
    seeded.addNodesOrSkip(extra)
  }

  test("M9 hyperedge transaction rejects duplicate taxa (ref Storage.fs:425-427)") {
    val dup = Transactions.proxiedTaxon("tl", "proxy", "method",
      Seq("taxonnode_genus_salix", "taxonnode_genus_salix"), "outcome", u1)
    assert(dup.isLeft)
    assert(Transactions.proxiedTaxon("tl", "p", "m", Nil, "o", u1).isLeft)
  }

  test("M11 simpleSite wires extent, uncertainty, and location edges (ref Scenarios.fs:133-224)") {
    val batch = Transactions.simpleSite(
      "sourcenode_pub_smith_tet_1987", "Lake A", 68.2, 18.5, "LakeSediment",
      earliest = ("BP", 9000.0), latest = ("AD", 1950.0),
      earliestError = Some(100.0), timelineUuid = u1, contextUuid = u2).toOption.get
    assert(batch.nodes.map(_.nodeType).sorted ==
      Seq(NodeTypes.ContextNode, NodeTypes.IndividualTimelineNode))
    val rels = batch.edges.groupBy(_.relType).view.mapValues(_.map(_.dst).toSet).toMap
    assert(rels("ExtentEarliestSpecified") == Set("calyearnode_9000ybp"))
    assert(rels("ExtentLatestSpecified") == Set("calyearnode_0ybp"))
    // both uncertainty bounds under ExtentEarliestUncertainty (ref Scenarios.fs:169-177)
    assert(rels("ExtentEarliestUncertainty") == Set("calyearnode_9100ybp", "calyearnode_8900ybp"))
    assert(rels.contains("IsLocatedAt") && rels.contains("HasTemporalExtent"))

    // commits cleanly against a seeded graph (year nodes must exist)
    val g2 = Transactions.commit(baseGraph, batch)
    assert(g2.isRight)
    assert(g2.toOption.get.edges.count() == 2 + batch.edges.length)
  }

  test("M11 J9 routing: pre-Holocene earliest date becomes OutOfScope and COMMITS (label node seeded)") {
    val batch = Transactions.simpleSite(
      "sourcenode_pub_smith_tet_1987", "Old Site", 60, 20, "PeatCore",
      earliest = ("BP", 13000.0), latest = ("BP", 9000.0),
      earliestError = None, timelineUuid = u1, contextUuid = u2).toOption.get
    val e = batch.edges.find(_.relType == "ExtentEarliestOutOfScope").get
    assert(e.dst == Time.PreHoloceneKey)
    // end-to-end: the out-of-scope label exists in the seed, so the
    // routed edge passes FK validation
    val committed = Transactions.commit(baseGraph, batch)
    assert(committed.isRight, committed.left.toOption.mkString)
  }

  test("M11 validation: inverted extents, bad coordinates, and post-index dates rejected") {
    assert(Transactions.simpleSite("s", "X", 0, 0, "O",
      ("BP", 1000.0), ("BP", 2000.0), None, u1, u2).isLeft) // latest older than earliest
    assert(Transactions.simpleSite("s", "X", 91, 0, "O",
      ("BP", 2000.0), ("BP", 1000.0), None, u1, u2).isLeft)
    // newer than the index floor (−72 BP): no year node exists → validation Left
    assert(Transactions.simpleSite("s", "X", 0, 0, "O",
      ("BP", 2000.0), ("AD", 2100.0), None, u1, u2).isLeft)
  }

  test("site names with quotes/backslashes produce valid JSON payloads") {
    val batch = Transactions.simpleSite(
      "src", """Lake "Deep\End"""", 60, 20, "PeatCore",
      ("BP", 9000.0), ("BP", 1000.0), None, u1, u2).toOption.get
    val payload = batch.nodes.find(_.nodeType == NodeTypes.ContextNode).get.payload
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload)
    assert(parsed.get("Name").asText() == """Lake "Deep\End"""")
  }

  test("M12 treeRing builds timeline + implicit-inference hyperedge to presence (ref Scenarios.fs:226-311)") {
    val batch = Transactions.treeRing("sourcenode_pub_smith_tet_1987", "Forest B",
      65.0, 22.0, collectionYearAD = 2000,
      taxonKey = Keys.taxonKey("genus", "Salix"),
      proxyKey = Keys.morphotypeKey("pollen", "Salix-type"),
      timelineUuid = u1, contextUuid = u2, hyperUuid = u3).toOption.get
    val types = batch.edges.groupBy(_.relType).view.mapValues(_.size).toMap
    assert(types("InferredAs") == 1 && types("MeasuredBy") == 1 && types("HasProxyInfo") == 1)
    assert(batch.edges.find(_.relType == "MeasuredBy").get.dst == Keys.outcomeKey("presence"))
    assert(Transactions.commit(baseGraph, batch).isRight)
  }

  test("M13 screening state machine enforces legal transitions (ref Sources.fs:181-202)") {
    assert(Transactions.screen("Unscreened", "Included") == Right("Included"))
    assert(Transactions.screen("Included", "InProgress").isRight)
    assert(Transactions.screen("Stalled", "InProgress").isRight)
    assert(Transactions.screen("Excluded", "Included").isLeft)
    assert(Transactions.screen("Unscreened", "CompletedAll").isLeft)
  }

  test("A6 classifyTaxa partitions proposed names into linked/unlinked/error") {
    import org.apache.spark.sql.functions.col
    val g = baseGraph
    val proposed = Seq("Salix", "Nonexistus maximus", "", "LIFE").toDF("name")
    val out = Transactions.classifyTaxa(g, proposed)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("Salix") == "linked")      // matches prettyName "Salix"
    assert(out("LIFE") == "linked")       // case-insensitive latin match
    assert(out("Nonexistus maximus") == "unlinked")
    assert(out("") == "error")
    val key = Transactions.classifyTaxa(g, Seq("Salix").toDF("name"))
      .select(col("taxon_key")).head().getString(0)
    assert(key == Keys.taxonKey("genus", "Salix"))
  }

  test("commit is atomic-per-step: dangling edge endpoint aborts (M6 FK check)") {
    val bad = Transactions.TxBatch(
      Seq(NodeRow("contextnode_x", NodeTypes.ContextNode, "X", "{}")),
      Seq(EdgeRow("contextnode_x", "missing_node", 1, "IsLocatedAt", "{}")))
    assert(Transactions.commit(baseGraph, bad).isLeft)
  }

  // ------------------------------------------------ commit vs M1 → M6

  /** The Dataset-level path `commit` replaces: strict insert, then edges
    * with FK checks and whole-set tuple dedup. */
  private def viaDatasets(g: GraphState, batch: Transactions.TxBatch): Either[String, GraphState] =
    for {
      g1 <- g.addNodes(batch.nodes.toDS()).left.map(d => s"duplicate keys: ${d.mkString(",")}")
      g2 <- g1.addRelations(batch.edges.toDS()).left.map(d => s"dangling endpoints: ${d.mkString(",")}")
    } yield g2

  private def differentialBase: GraphState = GraphState(
    Seq(
      NodeRow("taxonnode_a", NodeTypes.TaxonNode, "A", "{}"),
      NodeRow("taxonnode_b", NodeTypes.TaxonNode, "B", "{}"),
      NodeRow("contextnode_c", NodeTypes.ContextNode, "C", """{"x":1}""")).toDS(),
    Seq(
      EdgeRow("taxonnode_a", "taxonnode_b", 1, "IsA", "{}"),
      EdgeRow("contextnode_c", "taxonnode_a", 1, "IsLocatedAt", null)).toDS())

  private def outcome(r: Either[String, GraphState]) = r.map(g =>
    (g.nodes.collect().toSeq.sortBy(_.key), g.edges.collect().toSeq.sortBy(_.toString)))
    .left.map { msg =>
      val (prefix, keys) = msg.splitAt(msg.indexOf(": ") + 2)
      (prefix, keys.split(",").toSet)
    }

  test("commit matches addNodes → addRelations on verdict, message keys and result sets") {
    import Transactions.TxBatch
    def n(k: String) = NodeRow(k, NodeTypes.ContextNode, k.toUpperCase, "{}")
    def e(s: String, d: String, rel: String = "IsLocatedAt") = EdgeRow(s, d, 1, rel, "{}")
    val cases = Seq(
      "key repeated within the batch" -> TxBatch(Seq(n("contextnode_x"), n("contextnode_x")), Nil),
      "key already in the graph" -> TxBatch(Seq(n("contextnode_x"), n("taxonnode_a")), Nil),
      "dangling src" -> TxBatch(Seq(n("contextnode_x")),
        Seq(e("contextnode_x", "taxonnode_a"), e("missing_src", "taxonnode_b"))),
      "dangling dst" -> TxBatch(Seq(n("contextnode_x")),
        Seq(e("contextnode_x", "missing_dst"), e("contextnode_x", "missing_dst", "Other"))),
      "duplicate key and dangling endpoint" -> TxBatch(Seq(n("taxonnode_b")),
        Seq(e("taxonnode_b", "missing_dst"))),
      "edge already in the base" -> TxBatch(Seq(n("contextnode_x")),
        Seq(EdgeRow("taxonnode_a", "taxonnode_b", 1, "IsA", "{}"),
          EdgeRow("contextnode_c", "taxonnode_a", 1, "IsLocatedAt", null),
          e("contextnode_x", "taxonnode_a"))),
      "duplicate edges within the batch" -> TxBatch(Nil,
        Seq(e("taxonnode_b", "contextnode_c"), e("taxonnode_b", "contextnode_c"), e("taxonnode_a", "contextnode_c"))),
      "edges between new nodes only" -> TxBatch(Seq(n("contextnode_x"), n("contextnode_y")),
        Seq(e("contextnode_x", "contextnode_y"))),
      "empty batch" -> TxBatch(Nil, Nil))
    val base = differentialBase
    cases.foreach { case (name, batch) =>
      val want = outcome(viaDatasets(base, batch))
      assert(outcome(Transactions.commit(base, batch)) == want, name)
    }
    // the verdicts the cases are meant to reach
    val verdicts = cases.map { case (name, b) => name -> Transactions.commit(base, b).left.map(_.takeWhile(_ != ':')) }.toMap
    assert(verdicts("key repeated within the batch") == Left("duplicate keys"))
    assert(verdicts("duplicate key and dangling endpoint") == Left("duplicate keys"))
    assert(verdicts("dangling dst") == Left("dangling endpoints"))
    assert(verdicts("edge already in the base").isRight && verdicts("empty batch").isRight)
  }

  test("commit reports at most 20 keys") {
    import Transactions.TxBatch
    val batch = TxBatch(Nil, (1 to 30).map(i => EdgeRow("taxonnode_a", s"missing_$i", 1, "IsA", "{}")))
    val Left(msg) = Transactions.commit(differentialBase, batch): @unchecked
    assert(msg.startsWith("dangling endpoints: "))
    assert(msg.stripPrefix("dangling endpoints: ").split(",").length == 20)
  }

  test("M13 CompleteSection fold matches the reference case list (ref Library.fs:715-753)") {
    import Transactions._
    val Seq(s1, s2, s3) = CodingSections
    // CompletedAll absorbs
    assert(completeSection(CompletedAll, s1) == CompletedAll)
    // CompletedNone starts an InProgress list with just the section
    assert(completeSection(CompletedNone, s2) == InProgress(List(s2)))
    // last missing section completes everything
    assert(completeSection(InProgress(List(s1, s2)), s3) == CompletedAll)
    // duplicates collapse, first-occurrence order preserved
    assert(completeSection(InProgress(List(s2)), s2) == InProgress(List(s2)))
    assert(completeSection(InProgress(List(s1)), s2) == InProgress(List(s2, s1)))
    // completing the stalled section un-stalls
    assert(completeSection(Stalled(List(s1), s2, "why"), s2) == InProgress(List(s2, s1)))
    assert(completeSection(Stalled(List(s1, s3), s2, "why"), s2) == CompletedAll)
    // completing any other section accumulates but stays stalled
    assert(completeSection(Stalled(List(s1), s2, "why"), s3) == Stalled(List(s3, s1), s2, "why"))
  }

  test("M13 SubmitCodingProblem rejects completed sources and sections (ref Library.fs:755-785)") {
    import Transactions._
    val Seq(s1, s2, _) = CodingSections
    assert(flagProblem(CompletedAll, s1, "r").isLeft)
    assert(flagProblem(CompletedNone, s1, "r") == Right(Stalled(Nil, s1, "r")))
    assert(flagProblem(InProgress(List(s1)), s1, "r").isLeft)
    assert(flagProblem(InProgress(List(s1)), s2, "r") == Right(Stalled(List(s1), s2, "r")))
    assert(flagProblem(Stalled(List(s1), s2, "old"), s1, "r").isLeft)
    assert(flagProblem(Stalled(List(s1), s2, "old"), s2, "new") == Right(Stalled(List(s1), s2, "new")))
  }

  test("M13 column fold agrees with the ADT fold on every state/section combination") {
    import Transactions._
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Seq(s1, s2, s3) = CodingSections
    val states: Seq[CodingProgress] = Seq(
      CompletedNone, CompletedAll,
      InProgress(List(s1)), InProgress(List(s2, s3)), InProgress(List(s3, s1)),
      Stalled(Nil, s1, "r"), Stalled(List(s2), s1, "r"), Stalled(List(s1, s3), s2, "r"))
    val cases = for (st <- states; sec <- CodingSections) yield (st, sec)
    val rows = cases.map { case (st, sec) =>
      val (tag, completed, stSec, stReason) = st match {
        case CompletedNone => ("CompletedNone", Nil, null, null)
        case CompletedAll => ("CompletedAll", Nil, null, null)
        case InProgress(c) => ("InProgress", c, null, null)
        case Stalled(c, s, r) => ("Stalled", c, s, r)
      }
      (tag, completed, stSec, stReason, sec)
    }
    val df = rows.toDF("progress", "completed", "stalledSection", "stalledReason", "section")
      .withColumn("res", Transactions.completeSectionCol(
        col("progress"), col("completed"), col("stalledSection"), col("stalledReason"), col("section")))
    val got = df.select(col("res.progress"), col("res.completedSections"),
      col("res.stalledSection"), col("res.stalledReason")).collect()
    cases.zip(got).foreach { case ((st, sec), row) =>
      val expected = completeSection(st, sec)
      val (eTag, eCompleted, eStalled) = expected match {
        case CompletedNone => ("CompletedNone", Nil, null)
        case CompletedAll => ("CompletedAll", Nil, null)
        case InProgress(c) => ("InProgress", c, null)
        case Stalled(c, s, _) => ("Stalled", c, s)
      }
      assert(row.getString(0) == eTag, s"state tag for $st + $sec")
      // the column form carries the completed list through CompletedAll
      // transitions (the ADT drops it — CompletedAll is terminal), so
      // only compare lists for non-terminal results
      if (eTag != "CompletedAll")
        assert(row.getSeq[String](1).toList == eCompleted, s"completed for $st + $sec")
      assert(row.getString(2) == eStalled, s"stalled section for $st + $sec")
    }
  }
}
