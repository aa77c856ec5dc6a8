package graft.plans

import graft.core.Ckpt._
import graft.core.IterPlan.{IterDatasetOps, simpleUndirected}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximal matching by locally-minimal-edge rounds (the parallel
  * "local max/min" matching of Israeli & Itai, Inf. Process. Lett. '86;
  * the analysis in Blelloch, Fineman & Shun, SPAA '12 gives O(log m)
  * rounds w.h.p.) — the coarsening primitive of multilevel graph
  * partitioning (METIS-style matching contracts a 100 TB graph level by
  * level) and the symmetry-breaking dual of [[Mis]] on edges.
  *
  * Each round an active edge joins the matching iff its priority is the
  * MINIMUM among all active edges incident to either endpoint; matched
  * endpoints retire and every edge touching them deactivates. A
  * constant fraction of edges drops per round in expectation, so the
  * loop is O(log m) rounds of unions, map-side-combined string mins,
  * and hash joins — no sequential dependency anywhere.
  *
  * The priority is the DETERMINISTIC full md5 hex of the canonical edge
  * (`md5("match:u:v")`): 128 bits make distinct edges' priorities
  * distinct for every practical purpose (a tie would be an md5
  * collision), lowercase-hex string order is identical on every engine,
  * and `min(string)` is exact — so a DuckDB oracle replays each round
  * bit for bit. (A packed-long priority à la [[Mis]] cannot carry both
  * endpoints, and a truncated hash with a single-endpoint tie-break can
  * collide on two edges sharing that endpoint — which would select two
  * adjacent edges and break the matching invariant.)
  *
  * A round that leaves no active edges has converged; remaining
  * trajectory rows repeat the fixpoint zeros, so a fixed-depth unrolled
  * oracle matches the early-exiting loop (the [[Mis]]/KTruss convention).
  *
  * Output: the trajectory `(round, n_matched, n_remaining)` — edges
  * matched this round and active edges left after retiring matched
  * endpoints; `maxRounds` rows. Totals are exact integers.
  */
object Matching {

  /** The per-round selection stage: per-vertex minimum over incident
    * active edges (one union of the two endpoint roles + a map-side-
    * combined string min), then two hash joins back — an edge matches
    * iff it is the minimum at BOTH endpoints. Exposed (package-private)
    * so PlanAuditSpec can pin the exact plan the loop runs — the
    * trajectory output itself is a collected LocalTableScan.
    */
  private[graft] def roundSelect(e: DataFrame): DataFrame = {
    // JOIN-FREE local-min selection (r17): per endpoint, min_by picks the
    // argmin incident EDGE (ordered by `pe` with the edge identity as an
    // inert tiebreak suffix — pe is fixed-width and collision-distinct
    // per the md5 argument above, so the suffix never decides), and an
    // edge matches iff it is the argmin of BOTH endpoints — its struct
    // wins exactly twice. The previous shape joined e back against the
    // per-vertex min TWICE and filtered pe === mu — an equi-predicate
    // Catalyst folds into the join keys, making them (pe, endpoint):
    // no endpoint partitioning can serve that join, so each round paid
    // four full-edge Exchanges + string-key sorts (measured 3-6× on
    // g62/g66/g71 at sf0.1). Two aggregates replace both joins; the
    // edge set is scanned twice (the union) and never joined.
    val tag = concat_ws(":", col("pe"), col("u").cast("string"),
      col("v").cast("string"))
    val inc = e.select(col("u").as("x"), struct(col("u"), col("v")).as("edge"), tag.as("tg"))
      .unionAll(e.select(col("v").as("x"), struct(col("u"), col("v")).as("edge"), tag.as("tg")))
    inc.groupBy("x").agg(min_by(col("edge"), col("tg")).as("edge"))
      .groupBy("edge").agg(count(lit(1)).as("c"))
      .filter(col("c") === 2)
      .select(col("edge.u").as("u"), col("edge.v").as("v"))
  }

  /** HEAVY-edge greedy matching — the weighted form ([[trajectory]]'s
    * priority replaced by weight-descending order): each round an
    * active edge matches iff it is the HEAVIEST among edges incident to
    * either endpoint. This is the coarsening rule of multilevel
    * partitioners (METIS heavy-edge matching): contracting the
    * heaviest matched pairs preserves the most edge mass per level,
    * and the greedy local-max rule is a ½-approximation of maximum
    * weight matching (Preis/Avis) — computed here in O(log m) fully
    * parallel rounds.
    *
    * Portability: the priority is the STRING `lpad(CAP − w) ⧺ md5(u:v)`
    * — fixed-width zero-padded inverted weight makes lexicographic min
    * = weight max, and the md5 suffix breaks weight ties by a
    * collision-proof total order, so the same `min(string)` machinery
    * as the unweighted form replays on every engine. Weights must be
    * positive integers below 10¹² (row-level raise_error guard — a bad
    * weight must fail loudly, not mis-match silently); duplicate /
    * reversed edges canonicalize by SUMMING their weights (parallel
    * edges merge, the multigraph contraction rule).
    *
    * Output: `(round, n_matched, matched_weight, n_remaining)` —
    * exact integers, fixpoint rows repeated past convergence.
    */
  /** Weight domain bound for the fixed-width priority key: 10¹². */
  private val WeightCap = 1000000000000L

  /** Canonicalize a weighted edge list for the heavy-edge operators:
    * least/greatest endpoints, parallel-edge weights SUMMED (multigraph
    * contraction rule), row-level raise_error on weights outside
    * `(0, 10¹²)` — a bad weight must fail loudly, not mis-match
    * silently — and the `lpad(CAP − w) ⧺ md5` priority whose
    * lexicographic MIN is the weight MAX with collision-proof ties.
    */
  private def prepWeighted(edges: DataFrame, salt: String,
                           op: String): DataFrame = {
    val wGuard = when(col("w").isNotNull && col("w") > 0 && col("w") < WeightCap,
        col("w").cast("long"))
      .otherwise(raise_error(concat(
        lit(s"Matching.$op: weights must be integers in (0, $WeightCap), got w="),
        coalesce(col("w").cast("string"), lit("null")),
        lit(" on edge u="), col("u").cast("string"),
        lit(" v="), col("v").cast("string"))))
    edges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"),
        wGuard.as("w"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .groupBy("u", "v").agg(sum(col("w")).as("w"))
      .select(col("u"), col("v"), col("w"),
        concat(lpad((lit(WeightCap) - col("w")).cast("string"), 13, "0"),
          md5(concat(lit(salt), col("u").cast("string"), lit(":"),
            col("v").cast("string")))).as("pe"))
      .keyed("u")
      .lckpt()
  }

  def weightedTrajectory(edges: DataFrame, maxRounds: Int,
                         salt: String = "hmatch:"): DataFrame = {
    import graft.core.IterPlan.IterDatasetOps
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    var e = prepWeighted(edges, salt, "weightedTrajectory")

    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    var remaining = e.count()
    var round = 0
    while (round < maxRounds) {
      round += 1
      if (remaining == 0L) {
        rows += ((round, 0L, 0L, 0L))
      } else {
        val sel0 = roundSelectW(e)
        val sel = sel0.lckpt()
        graft.core.IterPlan.debugDump(s"wmatch select round $round", sel0)
        val matchedV = sel.select(col("u").as("x"))
          .unionAll(sel.select(col("v").as("x"))).distinct()
        // a sort-merge u probe is zero-exchange (e keyed u, matchedV
        // comes hash(x)-partitioned off its distinct); e is not
        // v-partitioned, so the v probe exchanges e unless it broadcasts
        val eNext0 = e
          .join(matchedV.select(col("x").as("u")), Seq("u"), "left_anti")
          .join(matchedV.select(col("x").as("v")), Seq("v"), "left_anti")
          .select("u", "v", "w", "pe")
        val eNext = eNext0.lckpt()
        graft.core.IterPlan.debugDump(s"wmatch residual round $round", eNext0)
        val selAgg = sel.agg(count(lit(1)).as("n"),
          coalesce(sum(col("w")), lit(0L)).as("mw")).head()
        val nRem = eNext.count()
        rows += ((round, selAgg.getLong(0), selAgg.getLong(1), nRem))
        e = eNext
        remaining = nRem
      }
    }
    rows.toSeq.toDF("round", "n_matched", "matched_weight", "n_remaining")
  }

  /** One multilevel COARSENING level (the step [[weightedTrajectory]]'s
    * matching exists for): contract each heavy-matched pair into a
    * supervertex (the smaller endpoint id — deterministic), re-key
    * every edge through the contraction map, drop collapsed intra-pair
    * edges, and SUM parallel coarse edges. Weight is conserved by
    * construction: `edge_weight_before = edge_weight_after +
    * collapsed_weight` — the invariant a multilevel partitioner checks
    * per level, emitted here so an oracle gates it.
    *
    * Scale shape: one matching round (union + map-side-combined min +
    * hash joins), a vertex→supervertex hash join per endpoint, one
    * re-aggregation of the edge list — all corpus-linear, no windows.
    *
    * Output: one row `(n_vertices, n_matched_pairs, n_super_vertices,
    * n_super_edges, edge_weight_before, edge_weight_after,
    * collapsed_weight)`, exact integers.
    */
  def coarsenOnce(edges: DataFrame, salt: String = "hmatch:"): DataFrame =
    coarsenStats(coarsenLevel(edges, salt, "coarsenOnce"))

  /** One shared coarsening LEVEL — prepped edges, matched pairs,
    * vertex→supervertex map, re-keyed edges, coarse graph, each piece
    * checkpoint-materialized. This is the standing intermediate the
    * whole multilevel family starts from: g67 reads its stats, g68/g70
    * assign and refine over its coarse graph, g71 descends from it.
    * `TpchGraph.coarsenLevelOne` memoizes ONE of these per source so the
    * four queries stop paying four separate level-one
    * matching+contraction builds (the verdict-measured ~3 s apiece).
    */
  final case class CoarsenLevel(e: DataFrame, sel: DataFrame,
                                superOf: DataFrame, rek: DataFrame,
                                coarse: DataFrame)

  def coarsenLevel(edges: DataFrame, salt: String = "hmatch:",
                   op: String = "coarsenLevel"): CoarsenLevel = {
    val e = prepWeighted(edges, salt, op)
    val sel = roundSelectW(e).lckpt()
    val verts = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x"))).distinct()
    // contraction map: both endpoints of a matched pair → the smaller id
    val cmap = sel.select(col("u").as("x"), col("u").as("sx"))
      .unionAll(sel.select(col("v").as("x"), col("u").as("sx")))
    val superOf = verts.join(cmap, Seq("x"), "left")
      .select(col("x"), coalesce(col("sx"), col("x")).as("sx"))
      .lckpt()
    // a sort-merge u probe reads prepWeighted's keyed(u) in place; e is
    // not v-partitioned, so the v probe exchanges e unless it broadcasts
    val rek = e
      .join(superOf.select(col("x").as("u"), col("sx").as("su")), "u")
      .join(superOf.select(col("x").as("v"), col("sx").as("sv")), "v")
      .lckpt()
    val coarse = rek.filter(col("su") =!= col("sv"))
      .groupBy(least(col("su"), col("sv")).as("cu"),
        greatest(col("su"), col("sv")).as("cv"))
      .agg(sum(col("w")).as("w"))
      .lckpt()
    CoarsenLevel(e, sel, superOf, rek, coarse)
  }

  /** The g67 stats row off a [[CoarsenLevel]]. `collapsed_weight` is
    * measured from the re-keyed edges (NOT derived as before − after),
    * so the oracle's conservation check stays an independent gate.
    */
  def coarsenStats(l: CoarsenLevel): DataFrame = {
    val verts = l.e.select(col("u").as("x"))
      .unionAll(l.e.select(col("v").as("x"))).distinct()
    val collapsed = l.rek.filter(col("su") === col("sv"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("collapsed_weight"))
    verts.agg(count(lit(1)).as("n_vertices"))
      .crossJoin(l.sel.agg(count(lit(1)).as("n_matched_pairs")))
      .crossJoin(l.superOf.select(col("sx")).distinct()
        .agg(count(lit(1)).as("n_super_vertices")))
      .crossJoin(l.coarse.agg(count(lit(1)).as("n_super_edges"),
        coalesce(sum(col("w")), lit(0L)).as("edge_weight_after")))
      .crossJoin(l.e.agg(coalesce(sum(col("w")), lit(0L)).as("edge_weight_before")))
      .crossJoin(collapsed)
      .select(col("n_vertices"), col("n_matched_pairs"), col("n_super_vertices"),
        col("n_super_edges"), col("edge_weight_before"), col("edge_weight_after"),
        col("collapsed_weight"))
  }

  /** Balanced k-way PARTITION of the coarse graph plus the cut it
    * induces — the initial-partitioning step a multilevel partitioner
    * runs after coarsening ([[coarsenOnce]]'s contraction, then assign,
    * then project back / refine). Supervertices are assigned by
    * weight-descending round-robin (`rank mod k` over base-vertex
    * weight, the parallel-friendly LPT relative): deterministic (ties
    * broken by supervertex id), balanced to within one max-weight
    * vertex per partition, and replayable as a plain SQL window.
    *
    * Scale shape: in a full multilevel stack the assignment runs at
    * the COARSEST level, where the vertex set is small by construction
    * (each level halves it), so the single global sort under the rank
    * window is over a bounded set — the corpus-sized work stays in the
    * matching/contraction levels, which are hash joins and map-side
    * mins. The cut itself is two hash joins of the coarse edge list
    * against the assignment plus one aggregation.
    *
    * Output: `k` rows `(partition, n_super, base_weight,
    * internal_weight, cut_weight)` — supervertices and base-vertex
    * mass per partition, intra-partition edge weight, and the global
    * cut weight (repeated per row; `edge_weight_after =
    * Σ internal_weight + cut_weight` is the check an oracle gates).
    * All exact integers.
    */
  def partitionCut(edges: DataFrame, k: Int,
                   salt: String = "hmatch:"): DataFrame =
    partitionCutFrom(coarsenLevel(edges, salt, "partitionCut"), k)

  /** [[partitionCut]] over a prebuilt (memoized) [[CoarsenLevel]]. */
  def partitionCutFrom(l: CoarsenLevel, k: Int): DataFrame = {
    val (coarse, assign) = coarsePartition(l, k)
    val labeled = coarse
      .join(assign.select(col("sx").as("cu"), col("pid").as("pu")), "cu")
      .join(assign.select(col("sx").as("cv"), col("pid").as("pv")), "cv")
    val cut = labeled.filter(col("pu") =!= col("pv"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("cut_weight"))
    val internal = labeled.filter(col("pu") === col("pv"))
      .groupBy(col("pu").as("partition"))
      .agg(sum(col("w")).as("iw"))
    assign.groupBy(col("pid").as("partition"))
      .agg(count(lit(1)).as("n_super"), sum(col("bw")).as("base_weight"))
      .join(internal, Seq("partition"), "left")
      .crossJoin(cut)
      .select(col("partition"), col("n_super"), col("base_weight"),
        coalesce(col("iw"), lit(0L)).as("internal_weight"), col("cut_weight"))
  }

  /** One coarsening level + balanced k-way assignment — the shared
    * state of [[partitionCut]] (reports it) and [[refineOnce]] (refines
    * it): `(coarse(cu, cv, w), assign(sx, bw, pid))`.
    */
  private def coarsePartition(l: CoarsenLevel, k: Int): (DataFrame, DataFrame) = {
    require(k >= 2, s"k must be >= 2: $k")
    val coarse = l.coarse
    // base-vertex weight per supervertex (1 or 2 after one level) —
    // the balance criterion METIS carries through contraction
    val vw = l.superOf.groupBy("sx").agg(count(lit(1)).as("bw"))
    val rankWin = org.apache.spark.sql.expressions.Window
      .orderBy(col("bw").desc, col("sx"))
    val assign = vw.select(col("sx"), col("bw"),
        (((row_number().over(rankWin) - 1) % k).cast("long")).as("pid"))
      .lckpt()
    (coarse, assign)
  }

  /** The multilevel COARSENING LOOP itself — [[coarsenOnce]] applied
    * level over level, each level's coarse graph feeding the next
    * (the V-cycle's descending leg; METIS runs this until the graph
    * fits one worker, then [[partitionCut]] assigns and [[refineOnce]]
    * climbs back up). One trajectory row per level pins the geometric
    * shrink a partitioner banks on — `n_super_vertices ≈ n_vertices −
    * n_matched` per level, edge weight conserved level over level
    * (`weight_before = weight_after + collapsed`).
    *
    * Each level is the g67 shape re-keyed to the previous level's
    * supervertices: one matching round + two vertex-map hash joins +
    * one re-aggregation — the level cost tracks the SHRINKING graph,
    * so the whole trajectory is a constant factor over level one.
    *
    * Output: `levels` rows `(level, n_vertices, n_matched_pairs,
    * n_super_vertices, n_super_edges, edge_weight_before,
    * edge_weight_after, collapsed_weight)` — exact integers.
    */
  def coarsenTrajectory(edges: DataFrame, levels: Int,
                        salt: String = "hmatch:"): DataFrame =
    coarsenTrajectoryFrom(
      coarsenLevel(edges, salt, "coarsenTrajectory"), levels, salt)

  /** [[coarsenTrajectory]] descending from a prebuilt (memoized)
    * level-one [[CoarsenLevel]] — the g67/g71 sharing: the most
    * expensive level of the descent is computed once per source and
    * both queries read it, exactly the ~1/3 cut the plan audit priced.
    */
  def coarsenTrajectoryFrom(l1: CoarsenLevel, levels: Int,
                            salt: String = "hmatch:"): DataFrame = {
    require(levels >= 1, s"levels must be positive: $levels")
    val spark = l1.e.sparkSession
    import spark.implicits._
    val rows = scala.collection.mutable
      .ArrayBuffer[(Int, Long, Long, Long, Long, Long, Long, Long)]()
    var lvl = l1
    for (level <- 1 to levels) {
      if (level > 1)
        lvl = coarsenLevel(
          lvl.coarse.select(col("cu").as("u"), col("cv").as("v"), col("w")),
          salt, "coarsenTrajectory")
      val verts = lvl.e.select(col("u").as("x"))
        .unionAll(lvl.e.select(col("v").as("x"))).distinct()
      val r = verts.agg(count(lit(1)).as("nv"))
        .crossJoin(lvl.sel.agg(count(lit(1)).as("np")))
        .crossJoin(lvl.superOf.select(col("sx")).distinct().agg(count(lit(1)).as("ns")))
        .crossJoin(lvl.coarse.agg(count(lit(1)).as("ne"),
          coalesce(sum(col("w")), lit(0L)).as("wa")))
        .crossJoin(lvl.e.agg(coalesce(sum(col("w")), lit(0L)).as("wb")))
        .crossJoin(lvl.rek.filter(col("su") === col("sv"))
          .agg(coalesce(sum(col("w")), lit(0L)).as("cw")))
        .head()
      rows += ((level, r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5), r.getLong(4), r.getLong(6)))
    }
    rows.toSeq.toDF("level", "n_vertices", "n_matched_pairs",
      "n_super_vertices", "n_super_edges", "edge_weight_before",
      "edge_weight_after", "collapsed_weight")
  }

  /** One Spinner-style REFINEMENT pass over [[partitionCut]]'s
    * assignment — the third phase of a multilevel partitioner (coarsen
    * g67 → assign g68 → refine): each supervertex computes its
    * connectivity `conn(x, q)` to every partition, its best move
    * (argmax conn, smaller-partition tie-break) and the gain
    * `conn(x, best) − conn(x, current)`; positive-gain vertices whose
    * md5 PARITY bit is 0 move simultaneously (the alternating-parity
    * conflict gate of Spinner-class streaming partitioners — a fully
    * synchronous move set would let adjacent vertices chase each other;
    * the deterministic hash bit admits half the candidates with no
    * coordination, and alternating the bit round by round covers the
    * rest).
    *
    * Scale shape: connectivity is one edge-list expansion (both
    * orientations) + a hash join to the assignment + one (vertex,
    * partition) aggregate; the argmax is a per-vertex window
    * (partitioned by vertex, never global); the move and both cut
    * evaluations are assignment hash joins — all corpus-linear.
    *
    * Output: one row `(n_super, n_boundary, n_candidates, n_moved,
    * cut_before, cut_after)` — boundary = vertices with any external
    * connectivity, candidates = strictly-positive-gain moves, moved =
    * candidates passing the parity gate; cuts exact. A refinement pass
    * is judged by `cut_after < cut_before`; the synchronous-move
    * approximation means improvement is expected, not guaranteed, and
    * the exact integers let the caller gate either way.
    */
  def refineOnce(edges: DataFrame, k: Int,
                 salt: String = "hmatch:",
                 paritySalt: String = "refine:"): DataFrame =
    refineOnceFrom(coarsenLevel(edges, salt, "refineOnce"), k, paritySalt)

  /** [[refineOnce]] over a prebuilt (memoized) [[CoarsenLevel]]. */
  def refineOnceFrom(l: CoarsenLevel, k: Int,
                     paritySalt: String = "refine:"): DataFrame = {
    val (coarse, assign) = coarsePartition(l, k)
    def cutOf(asg: DataFrame): DataFrame = coarse
      .join(asg.select(col("sx").as("cu"), col("pid").as("pu")), "cu")
      .join(asg.select(col("sx").as("cv"), col("pid").as("pv")), "cv")
      .filter(col("pu") =!= col("pv"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("cut"))
    val inc = coarse.select(col("cu").as("x"), col("cv").as("nbr"), col("w"))
      .unionAll(coarse.select(col("cv").as("x"), col("cu").as("nbr"), col("w")))
    val conn = inc
      .join(assign.select(col("sx").as("nbr"), col("pid").as("q")), "nbr")
      .groupBy("x", "q").agg(sum(col("w")).as("cw"))
      .lckpt()
    val bestWin = org.apache.spark.sql.expressions.Window
      .partitionBy("x").orderBy(col("cw").desc, col("q"))
    val best = conn.withColumn("rn", row_number().over(bestWin))
      .filter(col("rn") === 1)
      .select(col("x"), col("q").as("target"), col("cw").as("bw2"))
    val cur = assign
      .join(conn, col("x") === col("sx") && col("q") === col("pid"), "left")
      .select(col("sx"), col("pid"), coalesce(col("cw"), lit(0L)).as("curw"))
    val mv = cur.join(best.withColumnRenamed("x", "sx"), Seq("sx"), "left")
      .select(col("sx"), col("pid"), col("target"),
        (col("bw2") - col("curw")).as("gain"),
        (conv(substring(md5(concat(lit(paritySalt), col("sx").cast("string"))),
          1, 7), 16, 10).cast("long") % 2).as("par"))
      .lckpt()
    val asg2 = mv.select(col("sx"),
      when(col("gain") > 0 && col("par") === 0L && col("target") =!= col("pid"),
        col("target")).otherwise(col("pid")).as("pid"))
    mv.agg(count(lit(1)).as("n_super"),
        sum(when(col("gain") > 0, 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("gain") > 0 && col("par") === 0L, 1L).otherwise(0L))
          .as("n_moved"))
      .crossJoin(conn.join(assign.select(col("sx").as("x"),
          col("pid")), "x")
        .filter(col("q") =!= col("pid"))
        .agg(countDistinct(col("x")).as("n_boundary")))
      .crossJoin(cutOf(assign).withColumnRenamed("cut", "cut_before"))
      .crossJoin(cutOf(asg2).withColumnRenamed("cut", "cut_after"))
      .select(col("n_super"), col("n_boundary"), col("n_candidates"),
        col("n_moved"), col("cut_before"), col("cut_after"))
  }

  /** [[roundSelect]] carrying the weight through — shared shape: one
    * union + map-side-combined string min + two hash joins.
    */
  private def roundSelectW(e: DataFrame): DataFrame = {
    // join-free wins-twice selection carrying the weight — see
    // [[roundSelect]] for the shape and the equivalence argument
    val tag = concat_ws(":", col("pe"), col("u").cast("string"),
      col("v").cast("string"))
    val inc = e.select(col("u").as("x"),
        struct(col("u"), col("v"), col("w")).as("edge"), tag.as("tg"))
      .unionAll(e.select(col("v").as("x"),
        struct(col("u"), col("v"), col("w")).as("edge"), tag.as("tg")))
    inc.groupBy("x").agg(min_by(col("edge"), col("tg")).as("edge"))
      .groupBy("edge").agg(count(lit(1)).as("c"))
      .filter(col("c") === 2)
      .select(col("edge.u").as("u"), col("edge.v").as("v"), col("edge.w").as("w"))
  }

  /** `edges` in any orientation (canonicalized + deduped internally;
    * self-loops dropped — a self-loop can never be matched).
    */
  def trajectory(edges: DataFrame, maxRounds: Int,
                 salt: String = "match:"): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._

    var e = simpleUndirected(edges)
      .select(col("u"), col("v"),
        md5(concat(lit(salt), col("u").cast("string"), lit(":"),
          col("v").cast("string"))).as("pe"))
      .keyed("u")
      .lckpt()

    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var remaining = e.count()
    var round = 0
    while (round < maxRounds) {
      round += 1
      if (remaining == 0L) {
        rows += ((round, 0L, 0L)) // fixpoint — matches the oracle's no-op unroll
      } else {
        val sel = roundSelect(e).lckpt()
        val matchedV = sel.select(col("u").as("x"))
          .unionAll(sel.select(col("v").as("x"))).distinct()
        // see weightedTrajectory's residual note. A sort-merge u probe
        // stays zero-exchange in every round only while the v probe
        // broadcasts: a broadcast anti-join keeps eNext's hash(u) across
        // the checkpoint (IterPlan.debugDump, g62 and g66 at sf0.001,
        // rounds 1-3). If the size rule picks a sort-merge
        // v probe instead, its Exchange leaves eNext hash(v)-partitioned
        // and each later round's u probe re-exchanges the residual edges.
        val eNext = e
          .join(matchedV.select(col("x").as("u")), Seq("u"), "left_anti")
          .join(matchedV.select(col("x").as("v")), Seq("v"), "left_anti")
          .select("u", "v", "pe")
          .lckpt()
        val nSel = sel.count()
        val nRem = eNext.count()
        rows += ((round, nSel, nRem))
        e = eNext
        remaining = nRem
      }
    }
    rows.toSeq.toDF("round", "n_matched", "n_remaining")
  }
}
