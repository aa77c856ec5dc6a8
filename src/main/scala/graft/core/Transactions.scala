package graft.core

import java.util.UUID
import graft.model._

/** M9–M13 — the reference's composite "macro-transactions", re-expressed
  * as pure functions building node/edge batches that commit through the
  * [[GraphState]] mutation primitives. The reference chains `Result`
  * through 10–15 step in-memory updates (`Scenarios.fs:133-311`,
  * `Storage.fs:396-427`, `Library.fs:204-251`); here each transaction
  * assembles its rows first (read-your-writes within the batch) and
  * commits once — the idempotent, retry-safe shape for distributed writes.
  *
  * GUID-keyed nodes take explicit UUIDs (SURVEY §7.4 hard-part 2): no
  * PRNG inside the transaction, so a re-run commits the same keys.
  */
object Transactions {

  final case class TxBatch(nodes: Seq[NodeRow], edges: Seq[EdgeRow]) {
    def ++(other: TxBatch): TxBatch = TxBatch(nodes ++ other.nodes, edges ++ other.edges)
  }

  /** M9/M10 — hyperedge transaction (`Storage.fs:396-427`,
    * `Library.fs:204-251`): reify a proxied-taxon hyperedge node and fan
    * out `InferredFrom` (proxy), `InferredUsing` (method), `InferredAs`
    * (taxa), `MeasuredBy` (outcome), plus `HasProxyInfo` from the
    * timeline. Duplicate taxa within one hyperedge are rejected
    * (reference `Storage.fs:425-427`); identical hyperedges across calls
    * are allowed (fresh UUID — reference `Graph.fs:724-726`).
    */
  def proxiedTaxon(
      timelineKey: String, proxyKey: String, methodKey: String,
      taxonKeys: Seq[String], outcomeKey: String,
      uuid: UUID): Either[String, TxBatch] = {
    if (taxonKeys.distinct.size != taxonKeys.size)
      Left(s"duplicate taxa in hyperedge: ${taxonKeys.diff(taxonKeys.distinct).mkString(",")}")
    else if (taxonKeys.isEmpty) Left("hyperedge requires at least one taxon")
    else {
      val hk = Keys.uuidKey(NodeTypes.ProxiedTaxonNode, uuid)
      val node = NodeRow(hk, NodeTypes.ProxiedTaxonNode, "", "{}")
      val edges =
        EdgeRow(hk, proxyKey, 1, "InferredFrom", "{}") +:
        EdgeRow(hk, methodKey, 1, "InferredUsing", "{}") +:
        EdgeRow(hk, outcomeKey, 1, "MeasuredBy", "{}") +:
        EdgeRow(timelineKey, hk, 1, "HasProxyInfo", "{}") +:
        taxonKeys.map(t => EdgeRow(hk, t, 1, "InferredAs", "{}"))
      Right(TxBatch(Seq(node), edges))
    }
  }

  /** M11 — `automateSimpleSite` (`Scenarios.fs:133-224`): insert a
    * timeline + context for a source, wiring `HasTemporalExtent`,
    * `ExtentEarliestSpecified`/`ExtentLatestSpecified` to year nodes
    * (out-of-scope dates route to the pre-Holocene label — J9),
    * uncertainty edges for ± errors, and `IsLocatedAt`.
    */
  def simpleSite(
      sourceKey: String,
      siteName: String, latDD: Double, lonDD: Double, sampleOrigin: String,
      earliest: (String, Double), latest: (String, Double),
      earliestError: Option[Double],
      timelineUuid: UUID, contextUuid: UUID): Either[String, TxBatch] = {
    // NaN compares false to everything, so explicit finiteness checks —
    // a NaN coordinate would otherwise pass the range guards and emit
    // invalid JSON in the context payload
    if (!java.lang.Double.isFinite(latDD) || latDD < -90 || latDD > 90)
      Left(s"latitude out of range: $latDD")
    else if (!java.lang.Double.isFinite(lonDD) || lonDD < -180 || lonDD > 180)
      Left(s"longitude out of range: $lonDD")
    else if (earliestError.exists(e => !java.lang.Double.isFinite(e) || e < 0))
      Left(s"earliest-date error must be a finite non-negative year count: $earliestError")
    else {
      val tlKey = Keys.uuidKey(NodeTypes.IndividualTimelineNode, timelineUuid)
      val ctxKey = Keys.uuidKey(NodeTypes.ContextNode, contextUuid)
      val eYr = Time.holoceneCalYear(earliest._1, earliest._2)
      val lYr = Time.holoceneCalYear(latest._1, latest._2)
      // years older than the Holocene boundary route to the out-of-scope
      // label (J9); years NEWER than the index floor have no node at all
      // and must be rejected here, not at FK-check time
      if (lYr > eYr) Left(s"latest ($lYr BP) older than earliest ($eYr BP)")
      else if (eYr < Time.MinYearBP || lYr < Time.MinYearBP)
        Left(s"date newer than the time index floor (${Time.MinYearBP} BP): earliest=$eYr latest=$lYr")
      // only the EARLIEST date has out-of-scope routing; the reference
      // selects the latest via trySelectTimeNode, which has no label
      // fallback and errors for pre-Holocene years (Scenarios.fs:154-156)
      else if (lYr > Time.HoloceneBoundaryBP)
        Left(s"latest date ($lYr BP) is older than the Holocene boundary " +
          s"(${Time.HoloceneBoundaryBP} BP) — no year node exists for it")
      else {
        val nodes = Seq(
          NodeRow(tlKey, NodeTypes.IndividualTimelineNode, s"Timeline: $siteName",
            """{"Continuous":{"TemporalResolution":"Irregular"}}"""),
          NodeRow(ctxKey, NodeTypes.ContextNode, siteName,
            s"""{"Name":"${Json.str(siteName)}","SamplingLocation":{"Site":[$latDD,$lonDD]},"SampleOrigin":"${Json.str(sampleOrigin)}"}""")
        )
        // both uncertainty bounds carry ExtentEarliestUncertainty, like the
        // reference (Scenarios.fs:169-177) — UncertaintyYoungest belongs to
        // IndividualDateNode relations, not timelines (Exposure.fs:131)
        val uncertainty = earliestError.toSeq.flatMap { err =>
          val oldest = Time.timeNodeKey(eYr + math.round(err).toInt)
          val youngest = Time.timeNodeKey(math.max(eYr - math.round(err).toInt, Time.MinYearBP))
          Seq(
            EdgeRow(tlKey, oldest, 1, "ExtentEarliestUncertainty", "{}"),
            EdgeRow(tlKey, youngest, 1, "ExtentEarliestUncertainty", "{}"))
        }
        val edges = Seq(
          EdgeRow(sourceKey, tlKey, 1, "HasTemporalExtent", "{}"),
          EdgeRow(tlKey, Time.timeNodeKey(eYr), 1,
            if (eYr > Time.HoloceneBoundaryBP) "ExtentEarliestOutOfScope" else "ExtentEarliestSpecified",
            s"""{"calYearBP":$eYr}"""),
          EdgeRow(tlKey, Time.timeNodeKey(lYr), 1, "ExtentLatestSpecified", s"""{"calYearBP":$lYr}"""),
          EdgeRow(tlKey, ctxKey, 1, "IsLocatedAt", "{}")
        ) ++ uncertainty
        Right(TxBatch(nodes, edges))
      }
    }
  }

  /** M12 — `automateTreeRing` (`Scenarios.fs:226-311`): continuous annual
    * timeline from a collection year, context, and an implicit-inference
    * hyperedge to the `presence` outcome.
    */
  def treeRing(
      sourceKey: String, siteName: String, latDD: Double, lonDD: Double,
      collectionYearAD: Int, taxonKey: String, proxyKey: String,
      timelineUuid: UUID, contextUuid: UUID, hyperUuid: UUID): Either[String, TxBatch] = {
    val collectedBP = Time.holoceneCalYear("AD", collectionYearAD.toDouble)
    if (!Time.inBounds(collectedBP)) Left(s"collection year out of index bounds: $collectedBP BP")
    else {
      val tlKey = Keys.uuidKey(NodeTypes.IndividualTimelineNode, timelineUuid)
      val ctxKey = Keys.uuidKey(NodeTypes.ContextNode, contextUuid)
      val base = TxBatch(
        Seq(
          NodeRow(tlKey, NodeTypes.IndividualTimelineNode, s"Tree-ring timeline: $siteName",
            """{"Continuous":{"TemporalResolution":{"Regular":[1,"Rings"]}}}"""),
          NodeRow(ctxKey, NodeTypes.ContextNode, siteName,
            s"""{"Name":"${Json.str(siteName)}","SamplingLocation":{"Site":[$latDD,$lonDD]},"SampleOrigin":"LivingOrganism"}""")),
        Seq(
          EdgeRow(sourceKey, tlKey, 1, "HasTemporalExtent", "{}"),
          EdgeRow(tlKey, Time.timeNodeKey(collectedBP), 1, "ExtentLatestSpecified",
            s"""{"calYearBP":$collectedBP}"""),
          EdgeRow(tlKey, ctxKey, 1, "IsLocatedAt", "{}")))
      proxiedTaxon(tlKey, proxyKey,
        Keys.key(NodeTypes.InferenceMethodNode, "implicit"),
        Seq(taxonKey), Keys.outcomeKey("presence"), hyperUuid).map(base ++ _)
    }
  }

  /** M13 — screening state machine (`Library.fs:398-424,715-785`,
    * states `Sources.fs:181-202`): `Unscreened → Included | Excluded`,
    * then section-progress transitions for included sources. Illegal
    * transitions are rejected.
    */
  val screeningTransitions: Map[(String, String), Boolean] = Map(
    ("Unscreened", "Included") -> true,
    ("Unscreened", "Excluded") -> true,
    ("Included", "InProgress") -> true,
    ("InProgress", "CompletedAll") -> true,
    ("InProgress", "Stalled") -> true,
    ("Stalled", "InProgress") -> true
  ).withDefaultValue(false)

  def screen(current: String, next: String): Either[String, String] =
    if (screeningTransitions((current, next))) Right(next)
    else Left(s"illegal screening transition $current -> $next")

  // ---------------------------------------------- M13 section progress

  /** The coding-section keys an included source must complete
    * (reference `Library.fs:39-44`).
    */
  val CodingSections: Seq[String] =
    Seq("source-primary-or-secondary", "exposure", "outcome")

  /** M13 — `CodingProgress` (reference `Sources.fs:198-202`). */
  sealed trait CodingProgress
  case object CompletedNone extends CodingProgress
  final case class InProgress(completed: List[String]) extends CodingProgress
  final case class Stalled(completed: List[String], section: String, reason: String) extends CodingProgress
  case object CompletedAll extends CodingProgress

  /** The reference's completeness test (`Library.fs:720-722`):
    * `Set.difference(sections, completed)` is empty.
    */
  private def allSectionsComplete(completed: List[String]): Boolean =
    (CodingSections.toSet -- completed).isEmpty

  /** M13 — `CompleteSection` fold (`Library.fs:715-753`): mark one
    * section done. `CompletedAll` is absorbing; completing the stalled
    * section un-stalls; completing any other section of a stalled
    * source accumulates but stays stalled. `section :: completed |>
    * List.distinct` keeps first-occurrence order, mirrored exactly.
    */
  def completeSection(progress: CodingProgress, section: String): CodingProgress =
    progress match {
      case CompletedAll => CompletedAll
      case CompletedNone =>
        if (allSectionsComplete(List(section))) CompletedAll
        else InProgress(List(section))
      case InProgress(completed) =>
        val done = (section :: completed).distinct
        if (allSectionsComplete(done)) CompletedAll else InProgress(done)
      case Stalled(completed, stalledOn, reason) =>
        if (stalledOn == section) {
          val done = (section :: completed).distinct
          if (allSectionsComplete(done)) CompletedAll else InProgress(done)
        } else Stalled((section :: completed).distinct, stalledOn, reason)
    }

  /** M13 — `SubmitCodingProblem` (`Library.fs:755-785`): flag a section
    * as stalled. Completed sources and already-completed sections
    * reject.
    */
  def flagProblem(progress: CodingProgress, section: String, reason: String): Either[String, CodingProgress] =
    progress match {
      case CompletedAll => Left("Cannot flag when all completed")
      case CompletedNone => Right(Stalled(Nil, section, reason))
      case InProgress(completed) =>
        if (completed.contains(section)) Left("Cannot flag a completed section")
        else Right(Stalled(completed, section, reason))
      case Stalled(completed, _, _) =>
        if (completed.contains(section)) Left("Cannot flag a completed section")
        else Right(Stalled(completed, section, reason))
    }

  /** Column form of [[completeSection]] — the same fold as a single
    * `when` chain over `(progress, completedSections, stalledSection,
    * stalledReason)` columns, so a million-source store updates
    * section progress in one codegen'd map stage (no UDF, no driver
    * loop). The completeness test is the reference's `Set.difference`
    * as `array_except(sections, completed)`. Returns a struct with
    * fields `(progress, completedSections, stalledSection,
    * stalledReason)`.
    */
  def completeSectionCol(progress: org.apache.spark.sql.Column,
                         completed: org.apache.spark.sql.Column,
                         stalledSection: org.apache.spark.sql.Column,
                         stalledReason: org.apache.spark.sql.Column,
                         section: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val sectionsLit = array(CodingSections.map(lit): _*)
    val nullStr = lit(null).cast("string")
    val completed0 = coalesce(completed, array().cast("array<string>"))
    // section :: completed |> List.distinct — array_distinct keeps the
    // first occurrence, matching F# List.distinct order
    val done = array_distinct(concat(array(section), completed0))
    val allDone = size(array_except(sectionsLit, done)) === 0
    val progressed = struct(
      when(allDone, lit("CompletedAll")).otherwise(lit("InProgress")).as("progress"),
      done.as("completedSections"),
      nullStr.as("stalledSection"),
      nullStr.as("stalledReason"))
    when(progress === "CompletedAll",
      struct(lit("CompletedAll").as("progress"), completed0.as("completedSections"),
        nullStr.as("stalledSection"), nullStr.as("stalledReason")))
      .when(progress === "Stalled" && !(stalledSection <=> section),
        struct(lit("Stalled").as("progress"), done.as("completedSections"),
          stalledSection.as("stalledSection"), stalledReason.as("stalledReason")))
      .otherwise(progressed)
  }

  /** A6 — batch validation fold (reference `ValidateOrConfirmBatch`,
    * `Library.fs:627-682`): classify proposed taxon names against the
    * graph into linked (an existing taxon matches the computed latin
    * name), unlinked (parseable but no match), and error (empty/invalid
    * name). One broadcast join + a `when` classification — no driver
    * loop.
    */
  def classifyTaxa(g: GraphState, proposed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val taxa = g.nodesOfType(NodeTypes.TaxonNode)
      .select(col("key").as("taxon_key"), lower(col("prettyName")).as("latin"))
    // homonyms: two taxa may share a display name — collapse to one
    // deterministic key per latin name BEFORE the join, so each proposed
    // row yields exactly one output row and batch counts stay exact
    val uniqueTaxa = taxa.groupBy(col("latin")).agg(min(col("taxon_key")).as("taxon_key"))
    proposed
      .withColumn("latin", lower(trim(col("name"))))
      .join(broadcast(uniqueTaxa), Seq("latin"), "left_outer")
      .withColumn("status",
        when(col("name").isNull || trim(col("name")) === "", "error")
          .when(col("taxon_key").isNotNull, "linked")
          .otherwise("unlinked"))
      .select(col("name"), col("status"), col("taxon_key"))
  }

  /** Commit a batch: strict-insert its nodes (a key already in the graph
    * or repeated in the batch aborts — M1), then add its edges with both
    * endpoints checked (M6, a missing endpoint aborts) and each distinct
    * tuple added once. A `Left` names at most 20 keys.
    *
    * The batch is on the driver, so the graph is asked only about the
    * keys it names. One job collects the graph's keys among the batch
    * keys and edge endpoints; both checks are decided from that on the
    * driver. A batch that passes runs one more job for the base edges
    * between its endpoints, and the new state is the graph plus local
    * relations of the new nodes and of the edges not yet in the base — no
    * join or aggregate over the graph, in the commit or in later reads.
    * The edge dedup holds because the base edge set is distinct, as
    * `TpchGraph.cachedGraph`, `Seed.seedGraph`, [[GraphState.addRelations]]
    * and this method keep it (`EdgeSetDistinctSpec`).
    */
  def commit(g: GraphState, batch: TxBatch): Either[String, GraphState] = {
    import org.apache.spark.sql.functions.col
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val batchKeys = batch.nodes.map(_.key)
    val srcs = batch.edges.map(_.src)
    val dsts = batch.edges.map(_.dst)
    val probeKeys = (batchKeys ++ srcs ++ dsts).distinct
    val present =
      if (probeKeys.isEmpty) Set.empty[String]
      else g.nodes.filter(col("key").isin(probeKeys: _*)).select("key").as[String].collect().toSet
    val dups = (batchKeys.filter(present) ++ batchKeys.diff(batchKeys.distinct)).distinct.take(20)
    lazy val known = present ++ batchKeys
    lazy val dangling = (srcs ++ dsts).filterNot(known).distinct.take(20)
    if (dups.nonEmpty) Left(s"duplicate keys: ${dups.mkString(",")}")
    else if (dangling.nonEmpty) Left(s"dangling endpoints: ${dangling.mkString(",")}")
    else {
      val base =
        if (batch.edges.isEmpty) Set.empty[EdgeRow]
        else g.edges.filter(col("src").isin(srcs: _*) && col("dst").isin(dsts: _*))
          .collect().toSet
      val fresh = batch.edges.distinct.filterNot(base)
      Right(GraphState(
        if (batch.nodes.isEmpty) g.nodes else g.nodes.unionByName(batch.nodes.toDS()),
        if (fresh.isEmpty) g.edges else g.edges.unionByName(fresh.toDS())))
    }
  }
}
