package graft.plans

import graft.core.Ckpt._
import graft.core.IterPlan.simpleUndirected
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native exact triangle / wedge counting over an undirected
  * edge list, using the degree-ordered node-iterator (a.k.a.
  * compact-forward; Suri & Vassilvitskii, "Counting Triangles and the
  * Curse of the Last Reducer", WWW '11).
  *
  * Why degree ordering matters at scale: wedges are generated per apex
  * vertex as pairs of its ORIENTED out-neighbors, and orienting every
  * edge from the (degree, id)-smaller endpoint to the larger bounds the
  * oriented out-degree of any vertex by O(√m). A hub with degree 10⁶ in
  * a skewed graph would otherwise emit ~10¹² wedge rows from one key (the
  * "last reducer"); oriented, it emits at most ~m. Every step is a hash
  * aggregate or hash join in whole-stage codegen — no driver iteration.
  *
  * One enumerator ([[apexTriangles]]) finds each triangle exactly once;
  * the census, the per-node features and the triangle list are views of
  * its output (or of a stored list) and share no enumeration code.
  */
object Triangles {

  /** Merged-vs-split crossover for COUNT-granularity incremental
    * refreshes, in STANDING-ARTIFACT ROWS — i.e. exactly what
    * `ArtifactStore.rowCount` returns for the base-edge artifact
    * (undirected canonical edges over the DEDUPED fact table). UNITS
    * MATTER here, measured the hard way in r14: the r13 crossover
    * notes quoted masses from oracle-side counts over the RAW fact
    * table (sf4.0 "43M standing edges"), but the engine's artifact at
    * the same SF holds 21.4M rows (lineitem's duplicate
    * (orderkey, linenumber) rows shadow ~half the raw distinct pairs)
    * — a threshold calibrated in raw units against engine-unit masses
    * silently picks merged at the very point split was measured to
    * win. Measured points in ENGINE units (SCALE.md r13 crossover row,
    * fresh session per rep, idle rig): merged wins at 5.4M rows (g65 7.1 vs
    * 10.8 s — its one checkpoint of the merged adjacency amortizes
    * across the degree pass and both probe joins); split wins at 21.4M
    * rows (47.0 vs 55.2 s — the full-adjacency checkpoint write
    * overtakes the split's two extra bucketed re-scans). The threshold
    * sits between the two points; at lake scale (adjacency ≫ cluster
    * memory) split is strictly right — the re-shuffle, not the
    * re-scan, binds — so rounding DOWN is the safe direction.
    * LIST-granularity refreshes stay merged-favored at both measured
    * points (g86 33.8 vs 39.1 s at the 21.4M point; the stored-list
    * union amortizes the same checkpoint further), so no split pick
    * exists for them yet.
    */
  val SplitCountsEdgeThreshold: Long = 15L * 1000 * 1000

  /** [[SplitCountsEdgeThreshold]] with the test/rehearsal override
    * applied: `SPARK_GRAFT_TRI_SPLIT_EDGES` forces a different
    * crossover so the split path can be driven through the FULL oracle
    * gate at small SF (and A/B-measured at any SF) without synthesizing
    * 30M edges.
    */
  def splitCountsEdgeThreshold: Long =
    sys.env.get("SPARK_GRAFT_TRI_SPLIT_EDGES").flatMap(s =>
      scala.util.Try(s.toLong).toOption).getOrElse(SplitCountsEdgeThreshold)

  /** The coded path pick (r13 verdict ask — the crossover was measured
    * but the choice was static): a count-granularity refresh should
    * probe the standing adjacency split-join style iff the standing
    * mass is at/above the crossover. `standingEdges` comes from the
    * artifact store's rebuild-time row count ([[graft.core
    * .ArtifactStore.rowCount]]); `None` (mass unknown — pre-r14 meta)
    * keeps the merged default, which is the measured winner at every
    * sub-crossover point.
    */
  def preferSplitForCounts(standingEdges: Option[Long],
                           threshold: Long = splitCountsEdgeThreshold): Boolean =
    standingEdges.exists(_ >= threshold)

  /** Canonicalize + degree — shared by every form that enumerates
    * ([[counts]], [[perNodeCounts]], [[triangleList]]) or reads degrees
    * beside a stored list.
    */
  private def prep(edges: DataFrame): (DataFrame, DataFrame) = {
    // localCheckpoint: the canonical edge set feeds the degree aggregate,
    // both orientation joins, and (via `oriented`) three downstream scans —
    // without the lineage cut the caller's edge derivation (for g36, a
    // lineitem self-join + distinct) re-executes per consumer.
    val und = simpleUndirected(edges).lckpt()

    val deg = und.select(col("u").as("x"))
      .unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .lckpt()
    (und, deg)
  }

  /** The (degree, id) total order over an edge `(u, v)` carrying its
    * endpoint degrees `du`/`dv`: true iff `u` comes first.
    */
  private val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))

  /** THE triangle enumerator: each triangle of the canonical graph `und`
    * (degrees `deg` `(x, d)`) exactly once, as `(a, wb, wc)` with `a` the
    * apex. Exact because each triangle has exactly one vertex with
    * oriented out-edges to the other two (its (degree, id)-minimum), so
    * joining the wedge (a→b, a→c) with the oriented closing edge (b→c)
    * finds it once.
    */
  private def apexTriangles(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient by the total order (degree, id): src = smaller endpoint.
    // Kept as FLAT columns — the apex id alone is the wedge join key (an
    // id determines its degree), and long-keyed hash joins beat
    // struct-keyed ones; the head's degree rides along only for ordering.
    val oriented = und
      .join(deg.withColumnsRenamed(Map("x" -> "u", "d" -> "du")), "u")
      .join(deg.withColumnsRenamed(Map("x" -> "v", "d" -> "dv")), "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("sid"),
        when(uFirst, col("v")).otherwise(col("u")).as("tid"),
        when(uFirst, col("dv")).otherwise(col("du")).as("td"))
      .lckpt()

    // wedges at each apex: ordered pairs of out-neighbors, b before c in
    // the SAME (degree, id) order the closing edge is oriented by — a
    // mismatched pair order would miss every triangle where the two
    // orders disagree
    val e1 = oriented.select(col("sid").as("a"), col("tid").as("b"), col("td").as("bd"))
    val e2 = oriented.select(col("sid").as("a2"), col("tid").as("c"), col("td").as("cd"))
    val wedges = e1.join(e2, col("a") === col("a2") &&
        (col("bd") < col("cd") || (col("bd") === col("cd") && col("b") < col("c"))))
      .select(col("a"), col("b").as("wb"), col("c").as("wc"))

    // close the wedge with the oriented edge b→c (b <ord c by construction)
    val closing = oriented.select(col("sid").as("cb"), col("tid").as("cc"))
    wedges.join(closing, col("wb") === col("cb") && col("wc") === col("cc"))
      .select(col("a"), col("wb"), col("wc"))
  }

  /** One census row from degrees `deg` `(x, d)` and any one-row-per-
    * triangle frame `tri`.
    */
  private def census(deg: DataFrame, tri: DataFrame): DataFrame = {
    // edges = Σd/2 and wedges = Σ d(d−1)/2 fall out of ONE pass over the
    // degree table; shiftright keeps the arithmetic in exact longs (float
    // division would round above 2^53 on hub-heavy degree sequences).
    // The final combine is a 1-row × 1-row scalar crossJoin — the only
    // nested-loop join the plan may contain (pinned in PlanAuditSpec).
    val edgeWedge = deg.agg(
      coalesce(shiftright(sum(col("d")), 1), lit(0L)).as("n_edges"),
      coalesce(sum(shiftright(col("d") * (col("d") - 1), 1)), lit(0L))
        .as("n_wedges"))
    edgeWedge.crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** Per-node rows from degrees `deg` `(x, d)` and a one-row-per-
    * triangle frame `tri` with corner columns `a`, `b`, `c`.
    */
  private def perNode(deg: DataFrame, tri: DataFrame, a: String, b: String,
                      c: String): DataFrame = {
    val perX = tri.select(explode(array(col(a), col(b), col(c))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("tri"))
    deg.join(perX, Seq("x"), "left")
      .select(col("x"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          expr("2000L * coalesce(tri, 0L) div (d * (d - 1L))"))
          .otherwise(lit(0L)).as("cc_permille"))
  }

  /** `(x1 < x2 < x3)` from three unordered corner columns of `tri`. */
  private def sortedCorners(tri: DataFrame, a: String, b: String, c: String): DataFrame =
    tri.select(expr(s"array_sort(array($a, $b, $c))").as("t"))
      .select(col("t").getItem(0).as("x1"), col("t").getItem(1).as("x2"),
        col("t").getItem(2).as("x3"))

  /** Global counts for the undirected simple graph induced by `edges`
    * (any orientation, duplicates and self-loops tolerated — the edge
    * set is canonicalized first). Input columns: `u`, `v` (any orderable
    * type). Output: one row `(n_edges, n_wedges, n_triangles)` — wedges
    * are unordered neighbor pairs Σ d(d−1)/2, the denominator of the
    * global clustering coefficient 3·triangles / wedges.
    */
  def counts(edges: DataFrame): DataFrame = {
    val (und, deg) = prep(edges)
    census(deg, apexTriangles(und, deg))
  }

  /** The DOULION coin as its own plan stage: canonicalize to the simple
    * undirected edge set, then keep each edge iff its deterministic
    * md5-threshold hash clears `p`. Exposed separately from
    * [[approxCounts]] so the plan audit can pin the load-bearing shape —
    * the coin is a per-row `Filter` on the edge derivation itself, below
    * every wedge join, which is the only place the `p²` wedge-mass saving
    * can happen (a coin above a pair join would sample the OUTPUT and
    * save nothing).
    */
  def sparsify(edges: DataFrame, p: Double,
               salt: String = "doulion:"): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"sampling probability in (0,1]: $p")
    simpleUndirected(edges)
      .filter(
        graft.functions.Sampling.hash01(
          concat(col("u").cast("string"), lit("_"), col("v").cast("string")), salt) < p)
  }

  /** DOULION-style APPROXIMATE triangle census (Tsourakakis et al.,
    * "DOULION: Counting Triangles in Massive Graphs with a Coin",
    * KDD '09): keep each canonical edge independently with probability
    * `p`, count triangles EXACTLY on the sparsified graph (the same
    * degree-ordered plan as [[counts]]), and scale by `1/p³` — each
    * triangle survives iff all three of its edges do. At 100× corpus
    * scale this is the census a user reaches for first: the exact count
    * grows super-linearly with graph densification (g36 measured 2.6×
    * per data doubling at sf2.0), while the sparsified census runs on a
    * `p²`-mass wedge set with unbiased estimate and relative error
    * O(1/√(p³·T)) — sharpening with the very triangle count that makes
    * the exact plan expensive.
    *
    * The coin is a DETERMINISTIC md5-threshold on the canonical edge
    * key (the p21 split-column convention), so the sample — and
    * therefore the estimate — is reproducible across engines, retries,
    * and repartitioning, and a DuckDB oracle can replay it exactly.
    * Default `p = 0.5` is dyadic: `p³ = 0.125` and the scale-up
    * `count · 8` are float-exact on every engine.
    *
    * Output: one row `(n_edges_sampled, n_triangles_sampled,
    * est_triangles)`.
    */
  def approxCounts(edges: DataFrame, p: Double = 0.5,
                   salt: String = "doulion:"): DataFrame = {
    counts(sparsify(edges, p, salt)).select(
      col("n_edges").as("n_edges_sampled"),
      col("n_triangles").as("n_triangles_sampled"),
      round(col("n_triangles") / math.pow(p, 3)).cast("long").as("est_triangles"))
  }

  /** INCREMENTAL census maintenance: the triangle count of `base ∪
    * delta` WITHOUT re-running the census over the base graph —
    * `t(G ∪ D) = t(G) + |{triangles with ≥ 1 D edge}|`, and each new
    * triangle is counted exactly once by its MAXIMAL delta edge
    * (full-md5-hex edge keys give a portable total order, the
    * [[Matching]] convention — a truncated key colliding on two edges
    * of one triangle would double- or zero-count it). For the maximal
    * delta edge, the closing vertex's other two edges must each be a
    * base edge or a smaller-key delta edge.
    *
    * Scale shape: enumeration pivots at each delta edge's LOWER-degree
    * endpoint (degrees over the merged graph), so candidate mass is
    * `Σ_{e∈D} min(d(u), d(v))` — delta-sized work against the standing
    * adjacency, the incremental bound; the base census term is the
    * STORED standing artifact in production (recomputed here once so
    * the query is self-contained, exactly like the p132 wave pattern).
    * Inserting an edge that already exists is a no-op (anti-join), so
    * replayed deltas cannot double-count.
    *
    * Output: one row `(n_base_edges, n_delta_edges, t_base, t_delta,
    * t_total)`, all exact integers.
    */
  def incrementalCounts(base: DataFrame, delta: DataFrame,
                        salt: String = "ie:"): DataFrame = {
    val b = simpleUndirected(base).lckpt()
    incrementalCountsFrom(b, delta,
      counts(b).select(col("n_triangles").as("t_base")), salt)
  }

  /** Shared delta-attribution machinery: canonicalize + anti-join the
    * delta, build the labeled merged adjacency, and enumerate each NEW
    * triangle exactly once (by its maximal delta edge), keeping all
    * three corners `(pv, ot, w)`. Consumed at count granularity by
    * [[incrementalCountsFrom]] and at list granularity by
    * [[incrementalTriangleList]].
    */
  private def deltaAttributed(b: DataFrame, delta: DataFrame, salt: String,
                              baseMirrored: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val d = simpleUndirected(delta).join(b, Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"),
        md5(concat(lit(salt), col("u").cast("string"), lit(":"),
          col("v").cast("string"))).as("k"))
      .lckpt()

    baseMirrored match {
      case Some(mb) =>
        // SPLIT-JOIN path for a STORED standing adjacency: `mb` is the
        // base adjacency already mirrored `(x, y)`; when it is a table
        // BUCKETED by `x`, every base-side probe below inherits
        // hashpartitioning(x) from the scan and only the DELTA-sized
        // side exchanges — the standing adjacency never re-shuffles.
        // MEASURED at sf1.0 local[32] (3 sessions per path, min): the
        // merged fallback WINS there (g65 7.1 vs 10.8 s, g86 8.8 vs
        // 11.2 s) — its one localCheckpoint of the merged adjacency
        // amortizes across the degree pass and both probe joins, while
        // this path re-reads the base parquet three times.
        // CROSSOVER MEASURED at sf4.0 (43M base edges, same rig/method,
        // r13): the COUNTS refresh flips to this path (g65 47.0 vs
        // merged 55.2 s) — at that mass the merged form's full-adjacency
        // checkpoint write costs more than this path's two extra
        // bucketed re-scans — while the LIST refresh stays
        // merged-favored (g86 39.1 vs 33.8 s; its stored-list union
        // amortizes the same checkpoint further). The decision is CODED
        // (r14): [[preferSplitForCounts]] reads the standing artifact's
        // rebuild-time row count and flips at
        // [[SplitCountsEdgeThreshold]]; TpchGraph.triwaveBaseMirroredAuto
        // is the store-side half that materializes the bucketed mirror
        // only when the pick says split. Equivalence is property-pinned
        // (TrianglesSpec split==merged).
        val adjD = d.select(col("u").as("x"), col("v").as("y"), col("k"))
          .unionAll(d.select(col("v").as("x"), col("u").as("y"), col("k")))
          .lckpt()
        // merged degrees without moving the base: per-x base degree is a
        // bucket-local aggregate (no exchange), the delta correction is
        // delta-sized, and a full outer join stitches them
        val degB = mb.groupBy("x").agg(count(lit(1)).as("db"))
        val degD = adjD.groupBy("x").agg(count(lit(1)).as("dd"))
        val deg = degB.join(degD, Seq("x"), "full_outer")
          .select(col("x"),
            (coalesce(col("db"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("dg"))
        val dd0 = d
          .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        val pivots = dd0.select(
          when(uFirst, col("u")).otherwise(col("v")).as("pv"),
          when(uFirst, col("v")).otherwise(col("u")).as("ot"),
          col("k"))
          .lckpt()

        // base and delta neighbor probes separately: the base side needs
        // no key test (wv = 0 kept unconditionally in the merged form),
        // the delta side applies the smaller-key constraint
        val candsB = pivots
          .join(mb.select(col("x").as("pv"), col("y").as("w")), "pv")
          .filter(col("w") =!= col("ot"))
          .select(col("pv"), col("ot"), col("w"), col("k"))
        val candsD = pivots
          .join(adjD.select(col("x").as("pv"), col("y").as("w"),
            col("k").as("k1")), "pv")
          .filter(col("w") =!= col("ot") && col("k1") < col("k"))
          .select(col("pv"), col("ot"), col("w"), col("k"))
        // both closing joins consume the candidate set; measured at
        // sf1.0: RECOMPUTING the probe per side beats checkpointing the
        // candidate mass (Σ min-degree over the wave — large enough that
        // materializing it costs more than the second bucketed probe)
        val cands = candsB.unionAll(candsD)
        // base and delta edge sets are disjoint (anti-join above), so a
        // candidate closes against exactly one of the two sides
        val closedB = cands
          .join(mb.select(col("x").as("ot"), col("y").as("w")), Seq("ot", "w"))
          .select(col("pv"), col("ot"), col("w"))
        val closedD = cands
          .join(adjD.select(col("x").as("ot"), col("y").as("w"),
            col("k").as("k2")), Seq("ot", "w"))
          .filter(col("k2") < col("k"))
          .select(col("pv"), col("ot"), col("w"))
        (d, closedB.unionAll(closedD))

      case None =>
        // self-contained fallback: labeled merged adjacency, both
        // directions, wv = 0 base / 1 delta
        val labeled = b.select(col("u"), col("v"), lit(0).as("wv"), lit("").as("k"))
          .unionAll(d.select(col("u"), col("v"), lit(1).as("wv"), col("k")))
        val adj = labeled.select(col("u").as("x"), col("v").as("y"), col("wv"), col("k"))
          .unionAll(labeled.select(col("v").as("x"), col("u").as("y"), col("wv"), col("k")))
          .lckpt()
        val deg = adj.groupBy("x").agg(count(lit(1)).as("dg"))

        // orient each delta edge at its lower-(degree, id) endpoint
        val dd = d
          .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        val pivots = dd.select(
          when(uFirst, col("u")).otherwise(col("v")).as("pv"),
          when(uFirst, col("v")).otherwise(col("u")).as("ot"),
          col("k"))

        // pivot neighbors, then the closing (other, w) edge — both under
        // the base-or-smaller-key constraint that makes the count
        // attribution exactly-once
        val cands = pivots
          .join(adj.select(col("x").as("pv"), col("y").as("w"),
            col("wv").as("wv1"), col("k").as("k1")), "pv")
          .filter(col("w") =!= col("ot") && (col("wv1") === 0 || col("k1") < col("k")))
          .select(col("pv"), col("ot"), col("w"), col("k"))
        val closed = cands
          .join(adj.select(col("x").as("ot"), col("y").as("w"),
            col("wv").as("wv2"), col("k").as("k2")), Seq("ot", "w"))
          .filter(col("wv2") === 0 || col("k2") < col("k"))
          .select(col("pv"), col("ot"), col("w"))
        (d, closed)
    }
  }

  /** The NEW triangles `delta` introduces against canonical base `b` —
    * corners id-sorted `(x1 < x2 < x3)`, each exactly once (maximal-
    * delta-edge attribution): the LIST companion of
    * [[incrementalCountsFrom]], i.e. the refresh DELTA for a stored
    * [[triangleList]] artifact. `stored list ∪ this == triangleList(b ∪
    * delta)` is the refresh invariant (disjointness holds because every
    * row here has ≥ 1 delta edge and every stored triangle has none) —
    * gated at list granularity by g86, which is strictly stronger than
    * the count gate: a mis-attribution that cancels in counts cannot
    * cancel in corner hashes.
    */
  def incrementalTriangleList(b: DataFrame, delta: DataFrame,
                              salt: String = "ie:",
                              baseMirrored: Option[DataFrame] = None): DataFrame =
    sortedCorners(deltaAttributed(b, delta, salt, baseMirrored)._2, "pv", "ot", "w")

  /** The STANDING-ARTIFACT form of [[incrementalCounts]]: the base edge
    * list arrives ALREADY canonical (`u < v`, distinct, no loops — e.g.
    * a bucketed store scan) and the base census arrives as a prebuilt
    * 1-row `(t_base)` (e.g. a count over the stored [[triangleList]]),
    * so a refresh costs ONLY the delta attribution — Σ min-degree over
    * the delta against the standing adjacency — never a base re-census.
    * [[incrementalCounts]] (which rebuilds both inline so the query is
    * self-contained) is the audit twin; this is the shape a deployment
    * actually runs, and the two are oracle-identical by construction.
    */
  def incrementalCountsFrom(b: DataFrame, delta: DataFrame,
                            tBase0: DataFrame,
                            salt: String = "ie:",
                            baseMirrored: Option[DataFrame] = None): DataFrame = {
    val (d, closed) = deltaAttributed(b, delta, salt, baseMirrored)
    val tDelta = closed.agg(count(lit(1)).as("t_delta"))
    val tBase = tBase0.select(col("t_base").cast("long").as("t_base"))
    b.agg(count(lit(1)).as("n_base_edges"))
      .crossJoin(d.agg(count(lit(1)).as("n_delta_edges")))
      .crossJoin(tBase)
      .crossJoin(tDelta)
      .select(col("n_base_edges"), col("n_delta_edges"), col("t_base"),
        col("t_delta"), (col("t_base") + col("t_delta")).as("t_total"))
  }

  /** PER-NODE structural features — the node-level twin of [[counts]]
    * and the standard GNN/node-classification feature block: degree,
    * triangle participation count, and the local clustering coefficient
    * as exact integer permille (`2000·tri div d(d−1)`; 0 for degree-1
    * nodes). Each triangle found once by the oriented apex join then
    * attributes to ALL THREE corners via a fixed 3-row explode — the
    * aggregate stays exact and the skew bound is the same O(√m)
    * oriented out-degree as the census. Output: one row per vertex
    * `(x, degree, n_triangles, cc_permille)`.
    */
  def perNodeCounts(edges: DataFrame): DataFrame = {
    val (und, deg) = prep(edges)
    perNode(deg, apexTriangles(und, deg), "a", "wb", "wc")
  }

  /** The canonical TRIANGLE LIST `(x1 < x2 < x3)` — each triangle of the
    * simple undirected graph exactly once, corners id-sorted so every
    * consumer derives its own view map-side (count for the census,
    * corner explode for per-node features, the three canonical edges
    * for the k-truss peel). Enumerated by the same degree-ordered apex
    * join as [[counts]]; memoized per source by
    * `TpchGraph.copurchaseTriangles` this is the standing artifact the
    * whole triangle family (g36/g55/g59) reads instead of each paying
    * the wedge join.
    */
  def triangleList(edges: DataFrame): DataFrame = {
    val (und, deg) = prep(edges)
    sortedCorners(apexTriangles(und, deg), "a", "wb", "wc")
  }

  /** [[counts]] census read off a prebuilt (memoized) [[triangleList]]:
    * edges/wedges from one degree pass over `edges`, the triangle count
    * from the standing list — no wedge join.
    */
  def countsFromList(edges: DataFrame, tri: DataFrame): DataFrame =
    census(prep(edges)._2, tri)

  /** [[perNodeCounts]] read off a prebuilt [[triangleList]]: one corner
    * explode + count against the standing list, joined to degrees.
    */
  def perNodeCountsFromList(edges: DataFrame, tri0: DataFrame): DataFrame =
    perNode(prep(edges)._2, tri0, "x1", "x2", "x3")
}
