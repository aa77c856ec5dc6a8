package perfbench

import java.util.UUID
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{GraphState, Seed, Transactions}
import graft.core.Transactions.TxBatch
import graft.model.{EdgeRow, Keys, NodeRow}
import graft.sources.{AtomFiles, TpchGraph}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The reference's own traffic as direct calls into `core` and `sources`:
  * key lookups and hops over the TPC-H property graph, chained hyperedge
  * and site commits, and one atom-file flush per pass.
  *
  * Every pass starts from the same base state, so passes are comparable:
  * `TpchGraph.cachedGraph` plus the reference's seed graph (time index,
  * outcome dimensions), against which the site batches resolve. Reads are
  * checked against an in-memory model of that state plus the pass's own
  * commits; each batch must commit or be rejected as planned.
  */
final class CodingSession(dataDir: String, atomRoot: String) extends Workload {
  import CodingSession._

  private var base: GraphState = _
  private var keys: Map[String, IndexedSeq[String]] = Map.empty
  private var baseNodes: Map[String, NodeRow] = Map.empty
  private var baseOut: Map[String, Seq[EdgeRow]] = Map.empty

  private val lineage = mutable.ArrayBuffer.empty[Int]
  private var offered, rejected = 0
  private var atomBytes, userBytes = 0L
  private var graphBuildS = 0.0

  def prepare(spark: SparkSession): Unit = {
    val (g, secs) = Workload.timed(Trace.span("sources.graph_build") { _ =>
      val g = TpchGraph.cachedGraph(spark, dataDir)
      g.nodes.count(); g.edges.count()
      g
    })
    graphBuildS = secs
    val seed = Seed.seedGraph(spark)
    base = GraphState(
      g.nodes.unionByName(seed.nodes.persist(StorageLevel.MEMORY_AND_DISK)),
      g.edges.unionByName(seed.edges.persist(StorageLevel.MEMORY_AND_DISK)))
    base.nodes.count(); base.edges.count()
    keys = g.nodes.select("nodeType", "key").collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getString(1)).sorted.toIndexedSeq }
  }

  def oracle(spark: SparkSession): Unit = {
    baseNodes = base.nodes.collect().map(n => n.key -> n).toMap
    baseOut = base.edges.collect().toSeq.distinct.groupBy(_.src)
  }

  private val mapper = new ObjectMapper()
  private def json(s: String): String = mapper.readTree(s).toString

  private def uuid(rng: scala.util.Random) = new UUID(rng.nextLong(), rng.nextLong())

  /** The state a pass has built so far, as the client models it. */
  private final class Model {
    val nodes = mutable.LinkedHashMap.empty[String, NodeRow]
    val edges = mutable.LinkedHashSet.empty[EdgeRow]
    val timelines = mutable.ArrayBuffer.empty[String]
    val batches = mutable.ArrayBuffer.empty[TxBatch]
    def node(k: String): Option[NodeRow] = nodes.get(k).orElse(baseNodes.get(k))
    def out(k: String): Seq[EdgeRow] =
      (baseOut.getOrElse(k, Nil) ++ edges.filter(_.src == k)).distinct
    def add(b: TxBatch): Unit = {
      b.nodes.foreach(n => nodes(n.key) = n)
      edges ++= b.edges
      batches += b
      timelines ++= b.nodes.filter(_.nodeType == graft.model.NodeTypes.IndividualTimelineNode).map(_.key)
    }
  }

  private def pick(rng: scala.util.Random, t: String): String = {
    val ks = keys(t)
    ks(rng.nextInt(ks.size))
  }

  private def strings(r: Row): Seq[String] = r.toSeq.map(v => if (v == null) null else v.toString)
  private def nodeRow(n: NodeRow): Seq[String] = Seq(n.key, n.nodeType, n.prettyName, n.payload)

  /** Read slot `i` of a pass: the API call plus collecting its result, and
    * the rows the model says it must return (order matters only for
    * `nodesByKeys`). The slot fixes the read kind and its variant, with
    * hops (the reference's core traversal) twice as often as the others;
    * the seed draws the keys. Some variants read what the pass committed.
    */
  private def read(rng: scala.util.Random, m: Model, state: GraphState, i: Int)
      : (String, () => Seq[Seq[String]], Seq[Seq[String]], Boolean) = {
    val anyType = Seq("part", "supplier", "customer", "order", "lineitem", "nation")
    def committed(ks: Iterable[String]): Option[String] =
      if (ks.isEmpty) None else Some(ks.toSeq(rng.nextInt(ks.size)))
    Seq(0, 2, 1, 2, 3)(i % 5) match {
      case 0 =>
        val k = (if (i % 2 == 1) committed(m.nodes.keys) else None)
          .getOrElse(pick(rng, anyType(i % anyType.size)))
        ("nodeByKey", () => state.nodeByKey(k).collect().toSeq.map(nodeRow), m.node(k).toSeq.map(nodeRow), false)
      case 1 =>
        val ks = Seq.fill(8)(pick(rng, anyType(rng.nextInt(anyType.size)))).distinct
        ("nodesByKeys", () => state.nodesByKeys(ks).collect().toSeq.map(strings),
          ks.flatMap(m.node).map(nodeRow), true)
      case 2 =>
        val (rel, k) = i % 4 match {
          case 0 => ("PartOf", pick(rng, "lineitem"))
          case 1 => ("PlacedBy", pick(rng, "order"))
          case 2 => ("InNation", pick(rng, "customer"))
          case _ => ("HasProxyInfo", committed(m.timelines).getOrElse(pick(rng, "order")))
        }
        val want = m.out(k).filter(_.relType == rel).flatMap(e => m.node(e.dst).map(n =>
          Seq(k, rel, n.key, n.nodeType, n.prettyName, n.payload)))
        ("hop", () => state.hop(rel, Some(k)).collect().toSeq.map(strings), want, false)
      case _ =>
        val (r1, r2, k) =
          if (i % 2 == 0) ("PartOf", "PlacedBy", pick(rng, "lineitem"))
          else ("PlacedBy", "InNation", pick(rng, "order"))
        val want = for {
          e1 <- m.out(k) if e1.relType == r1
          e2 <- m.out(e1.dst) if e2.relType == r2
        } yield Seq(k, e1.dst, e2.dst)
        ("twoHop", () => state.twoHop(r1, r2).filter(col("a") === k).collect().toSeq.map(strings), want, false)
    }
  }

  private def site(rng: scala.util.Random): TxBatch = {
    val e = 100 + rng.nextInt(10900)
    val l = rng.nextInt(e - 50)
    Transactions.simpleSite(pick(rng, "order"), s"Site ${rng.nextInt(1000000)}",
      -60 + rng.nextDouble() * 130, -180 + rng.nextDouble() * 360, "LakeSediment",
      ("BP", e.toDouble), ("BP", l.toDouble), Some(10.0 + rng.nextInt(190)),
      uuid(rng), uuid(rng)).fold(err => sys.error(err), identity)
  }

  private def hyperedge(rng: scala.util.Random, m: Model, taxa: Seq[String]): TxBatch = {
    val timeline = if (m.timelines.nonEmpty) m.timelines(rng.nextInt(m.timelines.size)) else pick(rng, "order")
    val outcome = Keys.outcomeKey(Seed.outcomes(rng.nextInt(Seed.outcomes.size)))
    Transactions.proxiedTaxon(timeline, pick(rng, "supplier"), pick(rng, "nation"), taxa, outcome, uuid(rng))
      .fold(err => sys.error(err), identity)
  }

  private def distinctParts(rng: scala.util.Random, n: Int): Seq[String] =
    Iterator.continually(pick(rng, "part")).distinct.take(n).toSeq

  def pass(spark: SparkSession, passNo: Int, rng: scala.util.Random): Seq[Call] = {
    val m = new Model
    var state = base
    // a fixed mix per pass: read slots (see `read`), valid commits
    // alternating site and hyperedge batches, and invalid batches
    // alternating duplicate and dangling rejects across passes. Rounds of
    // Reads / Commits reads, then one commit call, as a coder interleaves
    // them; the seed orders the reads and the commit calls. Each pass
    // therefore reads as many times after each commit, whatever the seed.
    val readSlots = rng.shuffle((0 until Reads).toList).map(i => ("read", i))
    val commitSlots = rng.shuffle((0 until Commits).toList
      .map(i => if (i < Invalid) ("reject", passNo + i) else ("commit", i)))
    val slots = readSlots.grouped(Reads / Commits).zip(commitSlots).flatMap { case (rs, c) => rs :+ c }.toList
    val calls = slots.map {
      case ("read", i) =>
        val (op, run, want, ordered) = read(rng, m, state, i)
        val t0 = System.nanoTime()
        val got = try Right(Trace.span("core.read", "op" -> op, "pass" -> passNo) { s =>
          val rows = run()
          if (s != null) s.add("rows_returned", rows.size)
          rows
        }) catch { case e: Throwable => Left(Workload.message(e)) }
        val secs = (System.nanoTime() - t0) / 1e9
        val verdict = got.flatMap { rows =>
          val same = if (ordered) rows == want else rows.sortBy(_.mkString("\u0000")) == want.sortBy(_.mkString("\u0000"))
          if (same) Right(()) else Left(s"$op returned ${rows.size} rows, expected ${want.size}")
        }
        Call(passNo, op, "read", "core", secs, verdict.isRight, verdict.left.toOption.orNull)
      case (slot, i) =>
        val bad = slot == "reject"
        val (op, batch, wantErr) =
          if (!bad) {
            if (i % 2 == 0) ("commit.site", site(rng), None)
            else ("commit.hyperedge", hyperedge(rng, m, distinctParts(rng, 2)), None)
          } else if (i % 2 == 0) {
            val b = if (m.batches.nonEmpty) m.batches(rng.nextInt(m.batches.size))
                    else { val h = hyperedge(rng, m, distinctParts(rng, 2)); h ++ h }
            ("reject.duplicate", b, Some("duplicate keys"))
          } else {
            val taxa = Seq(pick(rng, "part"), s"part_missing_${rng.nextInt(1000000)}")
            ("reject.dangling", hyperedge(rng, m, taxa), Some("dangling endpoints"))
          }
        if (bad) offered += 1
        val t0 = System.nanoTime()
        val res = try Trace.span("core.commit", "op" -> op, "pass" -> passNo)(_ => Transactions.commit(state, batch))
                  catch { case e: Throwable => Left("threw " + Workload.message(e)) }
        val secs = (System.nanoTime() - t0) / 1e9
        val verdict: Either[String, Unit] = (res, wantErr) match {
          case (Right(g), None) => state = g; m.add(batch); Right(())
          case (Left(err), Some(w)) if err.startsWith(w) => rejected += 1; Right(())
          case (Left(err), _) => Left(s"$op rejected: ${err.take(200)}")
          case (Right(_), Some(w)) => Left(s"$op committed, expected '$w'")
        }
        Call(passNo, op, "write", "core", secs, verdict.isRight, verdict.left.toOption.orNull)
    }
    lineage += state.nodes.queryExecution.logical.collect { case p => p }.size +
      state.edges.queryExecution.logical.collect { case p => p }.size
    calls :+ flush(spark, passNo, m)
  }

  /** Writes the atoms of the nodes the pass created, with their
    * out-edges, and reads them back.
    */
  private def flush(spark: SparkSession, passNo: Int, m: Model): Call = {
    import spark.implicits._
    val dir = s"$atomRoot/pass-$passNo"
    val nodes = m.nodes.values.toSeq
    val edges = m.edges.toSeq.filter(e => m.nodes.contains(e.src))
    val t0 = System.nanoTime()
    val loaded = try Right(Trace.span("sources.flush", "op" -> "flush", "pass" -> passNo) { _ =>
      Trace.span("sources.atom_save", "pass" -> passNo)(_ =>
        AtomFiles.save(GraphState(nodes.toDS(), edges.toDS()), dir))
      Trace.span("sources.atom_load", "pass" -> passNo) { _ =>
        val g = AtomFiles.load(spark, dir)
        (g.nodes.collect().toSeq, g.edges.collect().toSeq)
      }
    }) catch { case e: Throwable => Left(Workload.message(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
    atomBytes += files.map(_.length).sum
    userBytes += nodes.map(n => utf8(n.key) + utf8(n.payload)).sum +
      edges.map(e => utf8(e.src) + utf8(e.dst) + utf8(e.relPayload)).sum
    val verdict = loaded.flatMap { case (ln, le) =>
      val nodesOk = ln.map(n => (n.key, json(n.payload))).toSet == nodes.map(n => (n.key, json(n.payload))).toSet
      val edgesOk = le.map(e => (e.src, e.dst, e.weight)).toSet == edges.map(e => (e.src, e.dst, e.weight)).toSet
      if (nodesOk && edgesOk && ln.size == nodes.size) Right(())
      else Left(s"flush read back ${ln.size} nodes/${le.size} edges, wrote ${nodes.size}/${edges.size}")
    }
    Call(passNo, "flush", "write", "sources", secs, verdict.isRight, verdict.left.toOption.orNull)
  }

  private def utf8(s: String): Long = if (s == null) 0L else s.getBytes("UTF-8").length.toLong

  override def extra: Map[String, Any] = Map(
    "graph_build_s" -> graphBuildS,
    "lineage_nodes" -> lineage.toList,
    "invalid_offered" -> offered, "invalid_rejected" -> rejected,
    "atom_bytes" -> atomBytes, "user_bytes" -> userBytes)
}

object CodingSession {
  /** Per pass: read calls, commit calls, and how many of the commit calls
    * offer an invalid batch. 12 reads to 3 commits is the 4:1 read:write
    * mix of a coding session; one flush per pass comes on top.
    */
  val Reads = 12
  val Commits = 3
  val Invalid = 1
}
