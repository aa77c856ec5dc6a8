package graft.operators

import graft.core.{GraphState, Seed}
import graft.model.{NodeRow, NodeTypes, Time}
import graft.sources.TpchGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2 graph-operator inventory, exercised on the deterministic
  * TPC-H-derived property graph ([[TpchGraph]]) so each operator has a
  * plain-SQL DuckDB oracle. The `gNN` numbering cross-references the
  * SURVEY §2 operator ids in each doc string.
  */
object GraphQueries {

  private def g(s: SparkSession, dir: String): GraphState = TpchGraph.cachedGraph(s, dir)

  /** Deduped lineitem (graph hyperedge source) — see [[TpchGraph.lineitemDedupSql]]. */
  private val liSql = TpchGraph.lineitemDedupSql

  /** M9–M12 composite-transaction scenario (oracled end-to-end): seed the
    * reference graph, strict-insert the dimension nodes a coded source
    * needs (M1), then commit a `simpleSite` and a `treeRing`
    * macro-transaction (M11, M12 — each routing through `proxiedTaxon`
    * M9/M10 and the edge FK/dedup gate M6). UUIDs are fixed so the
    * committed keys are deterministic and a DuckDB oracle can recompute
    * every expected row (ref Scenarios.fs:133-311).
    */
  private def committedScenario(s: SparkSession): GraphState = {
    import java.util.UUID
    import graft.core.Transactions
    import graft.model.Keys
    val srcKey = Keys.publicationKey("doe", "Tree ring chronology of northern forests", 2020)
    val proxyKey = Keys.morphotypeKey("Pollen", "Betula")
    val methodKey = Keys.key(NodeTypes.InferenceMethodNode, "implicit")
    val setup = Transactions.TxBatch(
      Seq(
        NodeRow(srcKey, NodeTypes.SourceNode, "Doe 2020", "{}"),
        NodeRow(proxyKey, NodeTypes.BioticProxyNode, "Betula pollen", "{}"),
        NodeRow(methodKey, NodeTypes.InferenceMethodNode, "Implicit", """{"Implicit":{}}""")),
      Nil)
    val site = Transactions.simpleSite(
      srcKey, "Lake Vatn", 65.6, -17.0, "LakeSediment",
      earliest = ("BP", 11000.0), latest = ("AD", 1000.0),
      earliestError = Some(100.0),
      timelineUuid = UUID.fromString("00000000-0000-4000-8000-000000000101"),
      contextUuid = UUID.fromString("00000000-0000-4000-8000-000000000102"))
    val rings = Transactions.treeRing(
      srcKey, "Forest Plot 7", 60.25, 25.5,
      collectionYearAD = 2000,
      taxonKey = Keys.taxonKey("life"), proxyKey = proxyKey,
      timelineUuid = UUID.fromString("00000000-0000-4000-8000-000000000201"),
      contextUuid = UUID.fromString("00000000-0000-4000-8000-000000000202"),
      hyperUuid = UUID.fromString("00000000-0000-4000-8000-000000000203"))
    (for {
      b1 <- site
      b2 <- rings
      g1 <- Transactions.commit(Seed.seedGraph(s), setup)
      g2 <- Transactions.commit(g1, b1)
      g3 <- Transactions.commit(g2, b2)
    } yield g3).fold(e => throw new IllegalStateException(s"composite txn failed: $e"), identity)
  }

  /** Shared by g36 (DataFrame census) and g43 (GraphX twin): the exact
    * triangle/wedge/edge counts of the part co-purchase graph.
    */
  private val copurchaseCensusOracle = s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        deg AS (SELECT x, count(*) AS d
                FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1)
        SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
               CAST((SELECT coalesce(sum((d*(d-1))//2), 0) FROM deg) AS BIGINT) AS n_wedges,
               CAST((SELECT count(*)
                     FROM e e1 JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
                               JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS BIGINT) AS n_triangles"""

  /** Shared by g72 (inline walk corpus) and g78 (the artifact-store twin):
    * skip-gram context pairs over the deterministic walk corpus. One
    * oracle for both IS the store-read == inline-build gate.
    */
  private lazy val walkContextsOracle = s"""
        WITH wk AS (${randomWalksOracle(steps = 4)}),
        t AS (SELECT start, walk, string_split(path, '->') AS p FROM wk),
        a AS (SELECT start, walk, p,
                     unnest(generate_series(1, len(p))) AS i
              FROM t),
        n AS (SELECT start, walk, i, CAST(p[i] AS BIGINT) AS node FROM a)
        SELECT c.node AS center, x.node AS context,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM n c JOIN n x ON c.start = x.start AND c.walk = x.walk
                         AND c.i <> x.i AND abs(c.i - x.i) <= 2
        GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Oracle unroll depth for g51 — must be ≥ the peel convergence depth
    * at every gate scale factor (measured: 4 rounds at sf0.001, 6 at
    * sf0.01/sf0.1 for k=80); rounds past convergence are exact no-ops,
    * so a generous fixed depth stays bit-identical to the converged
    * Spark answer. The Spark side caps at the SAME depth, so the two
    * agree even on a hypothetical input that hasn't converged by then.
    */
  private val KcoreRounds = 10

  /** g53 peel-depth cap, identical on both sides (max observed depth 8
    * at sf0.1 + headroom; the theorem bounds rounds at O(log n / ε)).
    */
  private val DensestRounds = 12

  /** g56 oracle: `depth`-deep unrolled multi-source BFS over the
    * undirected co-purchase graph — r_i = visited set after round i,
    * f_i = the new frontier (neighbors of f_{i-1} not yet visited).
    * Rounds past convergence add nothing (empty frontier), so the fixed
    * unroll equals the short-circuiting Spark loop bit for bit.
    */
  /** Shared fixed-depth BFS unroll (g56/g79): visited set r_depth over
    * the undirected co-purchase graph from the fixed seed sample.
    */
  private def bfsUnrollCtes(depth: Int): String = {
    val rounds = (1 to depth).map { i =>
      s"""f$i AS MATERIALIZED (
          SELECT DISTINCT p.start, e.v AS node
          FROM f${i - 1} p JOIN e ON e.u = p.node
          WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} x
                            WHERE x.start = p.start AND x.node = e.v)),
        r$i AS MATERIALIZED (
          SELECT * FROM r${i - 1}
          UNION ALL SELECT start, node, $i AS dist FROM f$i)"""
    }.mkString(",\n        ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        s AS (SELECT DISTINCT u AS start FROM e WHERE u % 100 = 0 AND u <= 2000),
        r0 AS MATERIALIZED (SELECT start, start AS node, 0 AS dist FROM s),
        f0 AS MATERIALIZED (SELECT start, node FROM r0),
        $rounds"""
  }

  /** g81 oracle: `depth`-deep unrolled truncated Brandes — forward
    * levels carry exact path counts σ (per-level GROUP BY sum over the
    * shortest-path parents), the backward unroll accumulates
    * δ(v) = Σ σ(v)·(1000 + δ(w)) // σ(w) level by level. Seeds and the
    * co-purchase edge set are g56's.
    */
  private def betweennessOracle(depth: Int): String = {
    val fwd = (1 to depth).map { i =>
      s"""f$i AS MATERIALIZED (
          SELECT p.start, e.v AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
          FROM f${i - 1} p JOIN e ON e.u = p.node
          WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} x
                            WHERE x.start = p.start AND x.node = e.v)
          GROUP BY 1, 2),
        r$i AS MATERIALIZED (
          SELECT start, node FROM r${i - 1}
          UNION ALL SELECT start, node FROM f$i)"""
    }.mkString(",\n        ")
    val back = ((depth - 1) to 0 by -1).map { d =>
      s"""d$d AS MATERIALIZED (
          SELECT c.start, c.node,
                 CAST(coalesce(sum(c.sigma * (1000 + dn.delta) // sn.sigma), 0)
                   AS BIGINT) AS delta
          FROM f$d c
          LEFT JOIN e ON e.u = c.node
          LEFT JOIN f${d + 1} sn ON sn.start = c.start AND sn.node = e.v
          LEFT JOIN d${d + 1} dn ON dn.start = c.start AND dn.node = e.v
          GROUP BY 1, 2)"""
    }.mkString(",\n        ")
    val acc = (0 to depth).map(d => s"SELECT start, node, delta FROM d$d")
      .mkString(" UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        s AS (SELECT DISTINCT u AS start FROM e WHERE u % 100 = 0 AND u <= 2000),
        f0 AS MATERIALIZED (SELECT start, start AS node, CAST(1 AS BIGINT) AS sigma FROM s),
        r0 AS MATERIALIZED (SELECT start, node FROM f0),
        $fwd,
        d$depth AS MATERIALIZED (
          SELECT start, node, CAST(0 AS BIGINT) AS delta FROM f$depth),
        $back,
        acc AS ($acc)
        SELECT node AS part, CAST(sum(delta) AS BIGINT) AS betweenness_milli
        FROM acc WHERE node <> start
        GROUP BY 1 HAVING sum(delta) > 0
        ORDER BY part"""
  }

  private def closenessOracle(depth: Int): String =
    s"""${bfsUnrollCtes(depth)}
        SELECT start, CAST(count(*) AS BIGINT) AS n_reached,
               CAST(sum(dist) AS BIGINT) AS sum_dist,
               CAST(max(dist) AS INT) AS eccentricity
        FROM r$depth GROUP BY start ORDER BY start"""

  private def harmonicOracle(depth: Int): String =
    s"""${bfsUnrollCtes(depth)}
        SELECT start, CAST(count(*) AS BIGINT) AS n_reached,
               CAST(coalesce(sum(CASE WHEN dist >= 1 THEN 1000000 // dist END), 0)
                 AS BIGINT) AS harmonic_micro
        FROM r$depth GROUP BY start ORDER BY start"""

  /** g59 oracle: `rounds`-deep unrolled k-truss peel — s_i = per-edge
    * triangle support over e_{i-1} (natural-order triangle join, each
    * triangle attributed to its 3 canonical edges), e_i = edges with
    * support ≥ k−2. Rounds past convergence are exact no-ops, matching
    * the Spark loop's repeated fixpoint rows.
    */
  /** g61 oracle: `rounds`-deep unrolled Luby MIS over the co-purchase
    * graph. Per round: each active vertex compares its packed priority
    * (28-bit md5 hash · 2³¹ + id — integer-total order, so a plain
    * `min()` is the neighborhood comparison) against the minimum over
    * its active neighbors; winners (and neighborless actives) select,
    * the selected set plus its neighborhood retires. Counts are exact
    * integers, and an empty active set unrolls to the same zero rows
    * the early-exiting Spark loop emits.
    */
  private def misOracle(rounds: Int): String = {
    val rnds = (1 to rounds).map { i =>
      s"""nm$i AS (SELECT e.x, min(p.pk) AS npk
              FROM ed${i - 1} e JOIN pri p ON p.x = e.y GROUP BY 1),
        sel$i AS MATERIALIZED (
          SELECT v.x FROM act${i - 1} v
          JOIN pri p ON p.x = v.x
          LEFT JOIN nm$i n ON n.x = v.x
          WHERE n.npk IS NULL OR p.pk < n.npk),
        ret$i AS (SELECT DISTINCT e.y AS x
                  FROM ed${i - 1} e JOIN sel$i s ON s.x = e.x),
        act$i AS MATERIALIZED (
          SELECT a.x FROM act${i - 1} a
          LEFT JOIN sel$i s ON s.x = a.x
          LEFT JOIN ret$i r ON r.x = a.x
          WHERE s.x IS NULL AND r.x IS NULL),
        ed$i AS MATERIALIZED (
          SELECT e.x, e.y FROM ed${i - 1} e
          JOIN act$i a ON a.x = e.x JOIN act$i b ON b.x = e.y),
        t$i AS (SELECT $i AS round,
                       (SELECT count(*) FROM sel$i) AS n_selected,
                       (SELECT count(*) FROM act$i) AS n_remaining)"""
    }.mkString(",\n        ")
    val unioned = (1 to rounds).map(i => s"SELECT * FROM t$i").mkString("\n        UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        ed0 AS MATERIALIZED (SELECT u AS x, v AS y FROM e0
               UNION ALL SELECT v AS x, u AS y FROM e0),
        act0 AS MATERIALIZED (SELECT DISTINCT x FROM ed0),
        pri AS MATERIALIZED (
          SELECT x, ('0x' || substring(md5('mis:' || CAST(x AS VARCHAR)), 1, 7))::BIGINT
                      * 2147483648 + x AS pk
          FROM act0),
        $rnds
        SELECT CAST(round AS INT) AS round,
               CAST(n_selected AS BIGINT) AS n_selected,
               CAST(n_remaining AS BIGINT) AS n_remaining
        FROM ($unioned) ORDER BY round"""
  }

  /** g62 oracle: `rounds`-deep unrolled locally-minimal matching over
    * the co-purchase graph. Per round: an active edge matches iff its
    * md5-hex priority is the minimum among active edges incident to
    * EITHER endpoint (full-hex string min — collision-proof and
    * identically ordered on both engines); matched endpoints retire
    * every incident edge. Counts are exact integers; an empty edge set
    * unrolls to the same fixpoint zeros the early-exiting loop emits.
    */
  private def matchingOracle(rounds: Int): String = {
    val rnds = (1 to rounds).map { i =>
      s"""vm$i AS (SELECT x, min(pe) AS mpe FROM (
            SELECT u AS x, pe FROM ed${i - 1}
            UNION ALL SELECT v AS x, pe FROM ed${i - 1}) GROUP BY 1),
        sel$i AS MATERIALIZED (
          SELECT e.u, e.v FROM ed${i - 1} e
          JOIN vm$i a ON a.x = e.u JOIN vm$i b ON b.x = e.v
          WHERE e.pe = a.mpe AND e.pe = b.mpe),
        mv$i AS (SELECT u AS x FROM sel$i UNION SELECT v AS x FROM sel$i),
        ed$i AS MATERIALIZED (
          SELECT e.u, e.v, e.pe FROM ed${i - 1} e
          LEFT JOIN mv$i a ON a.x = e.u LEFT JOIN mv$i b ON b.x = e.v
          WHERE a.x IS NULL AND b.x IS NULL),
        t$i AS (SELECT $i AS round,
                       (SELECT count(*) FROM sel$i) AS n_matched,
                       (SELECT count(*) FROM ed$i) AS n_remaining)"""
    }.mkString(",\n        ")
    val unioned = (1 to rounds).map(i => s"SELECT * FROM t$i").mkString("\n        UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        ed0 AS MATERIALIZED (
          SELECT u, v, md5('match:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pe
          FROM e0),
        $rnds
        SELECT CAST(round AS INT) AS round,
               CAST(n_matched AS BIGINT) AS n_matched,
               CAST(n_remaining AS BIGINT) AS n_remaining
        FROM ($unioned) ORDER BY round"""
  }

  /** g63 oracle: `rounds`-deep unrolled HyperANF over the co-purchase
    * graph. Registers, ranks (`57 − length(bin(w))`), the m = 16 bias
    * constant, and the linear-counting literal table are generated from
    * the SAME Scala values the Spark plan splices, and every float
    * expression mirrors the operator's fixed tree — so `round(est·10⁶)`
    * lands on identical longs on both engines.
    */
  private def hyperAnfOracle(rounds: Int): String = {
    val M = graft.plans.HyperAnf.M
    val regList = (0 until M).map(j => s"rg$j")
    val sumRegs = regList.mkString(" + ")
    val z = regList.map(r => s"1.0 / CAST((CAST(1 AS BIGINT) << $r) AS DOUBLE)")
      .mkString(" + ")
    val vz = regList.map(r => s"(CASE WHEN $r = 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val lc = graft.plans.HyperAnf.linearCountingTable
      .map { case (v, e) => s"WHEN $v THEN CAST($e AS DOUBLE)" }.mkString(" ")
    val alpha = graft.plans.HyperAnf.Alpha * M * M
    def statsCte(i: Int, src: String): String =
      s"""t$i AS (SELECT $i AS round,
            CAST(sum($sumRegs) AS BIGINT) AS sum_registers,
            CAST(sum(CAST(round((CASE WHEN raw <= ${2.5 * M} AND vz > 0
                                      THEN (CASE vz $lc ELSE 0.0 END)
                                      ELSE raw END) * 1000000.0) AS BIGINT)) AS BIGINT) AS nf_micro
          FROM (SELECT *, CAST($alpha AS DOUBLE) / ($z) AS raw, $vz AS vz
                FROM $src))"""
    val initRegs = (0 until M)
      .map(j => s"(CASE WHEN bkt = $j THEN rnk ELSE 0 END) AS rg$j").mkString(", ")
    val maxRegs = regList.map(r => s"max(v.$r) AS $r").mkString(", ")
    val rnds = (1 to rounds).map { i =>
      s"""vr$i AS MATERIALIZED (
            SELECT e.x, $maxRegs FROM eds e JOIN vr${i - 1} v ON v.x = e.y GROUP BY e.x)"""
    }.mkString(",\n        ")
    val stats = (0 to rounds).map(i => statsCte(i, s"vr$i")).mkString(",\n        ")
    val unioned = (0 to rounds).map(i => s"SELECT * FROM t$i").mkString("\n        UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        ed0 AS MATERIALIZED (SELECT u AS x, v AS y FROM e0
               UNION ALL SELECT v AS x, u AS y FROM e0),
        vx AS MATERIALIZED (SELECT DISTINCT x FROM ed0),
        eds AS MATERIALIZED (SELECT x, y FROM ed0 UNION ALL SELECT x, x AS y FROM vx),
        rk AS (SELECT x, h & ${M - 1} AS bkt,
                      CASE WHEN (h >> 4) = 0 THEN 57
                           ELSE 57 - length(bin(h >> 4)) END AS rnk
               FROM (SELECT x, ('0x' || substring(md5('anf:' || CAST(x AS VARCHAR)), 1, 15))::BIGINT AS h
                     FROM vx)),
        vr0 AS MATERIALIZED (SELECT x, $initRegs FROM rk),
        $rnds,
        $stats
        SELECT CAST(round AS INT) AS round,
               CAST(sum_registers AS BIGINT) AS sum_registers,
               CAST(nf_micro AS BIGINT) AS nf_micro
        FROM ($unioned) ORDER BY round"""
  }

  /** g64 oracle: `rounds`-deep unrolled FULL min-label propagation over
    * the directed next-purchase transition graph (the delta form in
    * [[graft.plans.SccLabels]] computes identical state). Labels are
    * vertex ids, so plain integer `min()`/`least()` replays exactly.
    */
  private def sccOracle(rounds: Int): String = {
    def step(i: Int, name: String, src: String, dst: String): String =
      s"""$name$i AS MATERIALIZED (
            SELECT v.x, least(v.lbl, coalesce(m.nm, v.lbl)) AS lbl
            FROM $name${i - 1} v
            LEFT JOIN (SELECT e.$dst AS x, min(s.lbl) AS nm
                       FROM ed e JOIN $name${i - 1} s ON s.x = e.$src
                       GROUP BY 1) m ON m.x = v.x)"""
    val rnds = (1 to rounds).map { i =>
      step(i, "f", "src", "dst") + ",\n        " + step(i, "b", "dst", "src")
    }.mkString(",\n        ")
    val stats = (0 to rounds).map { i =>
      s"""t$i AS (SELECT $i AS round,
            sum(CASE WHEN f.lbl = b.lbl THEN 1 ELSE 0 END) AS n_certified,
            sum(f.lbl) AS f_mass, sum(b.lbl) AS b_mass
          FROM f$i f JOIN b$i b ON b.x = f.x)"""
    }.mkString(",\n        ")
    val unioned = (0 to rounds).map(i => s"SELECT * FROM t$i").mkString("\n        UNION ALL ")
    s"""
        WITH o AS (SELECT o_custkey AS c, o_orderkey AS k, o_orderdate AS dt FROM orders),
        nx AS (SELECT k, lead(k) OVER (PARTITION BY c ORDER BY dt, k) AS k2 FROM o),
        li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        ed AS MATERIALIZED (
          SELECT DISTINCT a.p AS src, b.p AS dst
          FROM nx JOIN li a ON a.k = nx.k JOIN li b ON b.k = nx.k2
          WHERE nx.k2 IS NOT NULL AND a.p <> b.p),
        vx AS MATERIALIZED (SELECT src AS x FROM ed UNION SELECT dst FROM ed),
        f0 AS MATERIALIZED (SELECT x, x AS lbl FROM vx),
        b0 AS MATERIALIZED (SELECT x, x AS lbl FROM vx),
        $rnds,
        $stats
        SELECT CAST(round AS INT) AS round,
               CAST(n_certified AS BIGINT) AS n_certified,
               CAST(f_mass AS BIGINT) AS f_mass,
               CAST(b_mass AS BIGINT) AS b_mass
        FROM ($unioned) ORDER BY round"""
  }

  /** g66 oracle: `rounds`-deep unrolled HEAVY-edge matching over the
    * WEIGHTED co-purchase graph (w = shared-order count). The priority
    * string `lpad(10¹² − w) ⧺ md5` makes lexicographic min = weight max
    * with a collision-proof tiebreak, so the same min()-based unroll as
    * [[matchingOracle]] replays the weighted rule exactly.
    */
  /** Shared oracle CTE chain for the multilevel-partitioning family
    * (g68 partition+cut, g70 refinement): weighted co-purchase edges →
    * one heavy-matching round → contraction → coarse graph → balanced
    * round-robin assignment. Mirrors `Matching.coarsePartition`.
    */
  private def partitionCtes: String =
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        wco AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        ed0 AS MATERIALIZED (
          SELECT u, v, w,
                 lpad(CAST(1000000000000 - w AS VARCHAR), 13, '0')
                   || md5('hmatch:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pe
          FROM wco),
        vm1 AS (SELECT x, min(pe) AS mpe FROM (
            SELECT u AS x, pe FROM ed0 UNION ALL SELECT v AS x, pe FROM ed0) GROUP BY 1),
        sel1 AS MATERIALIZED (
          SELECT e.u, e.v, e.w FROM ed0 e
          JOIN vm1 a ON a.x = e.u JOIN vm1 b ON b.x = e.v
          WHERE e.pe = a.mpe AND e.pe = b.mpe),
        verts AS (SELECT u AS x FROM ed0 UNION SELECT v FROM ed0),
        cmap AS (SELECT u AS x, u AS sx FROM sel1 UNION ALL SELECT v, u FROM sel1),
        sup AS MATERIALIZED (SELECT v.x, coalesce(c.sx, v.x) AS sx
                FROM verts v LEFT JOIN cmap c ON c.x = v.x),
        coarse AS MATERIALIZED (
          SELECT least(a.sx, b.sx) AS cu, greatest(a.sx, b.sx) AS cv, sum(e.w) AS w
          FROM ed0 e JOIN sup a ON a.x = e.u JOIN sup b ON b.x = e.v
          WHERE a.sx <> b.sx GROUP BY 1, 2),
        vw AS (SELECT sx, count(*) AS bw FROM sup GROUP BY 1),
        asg AS MATERIALIZED (
          SELECT sx, bw,
                 CAST((row_number() OVER (ORDER BY bw DESC, sx) - 1) % 4 AS BIGINT) AS pid
          FROM vw)"""

  /** DuckDB replica of `Matching.coarsenTrajectory`: the g67 contraction
    * chain unrolled level over level, each level's coarse graph feeding
    * the next as `src_{i+1}`.
    */
  private def coarsenTrajectoryOracle(levels: Int): String = {
    def lvl(i: Int) = s"""
        ed_$i AS MATERIALIZED (
          SELECT u, v, w,
                 lpad(CAST(1000000000000 - w AS VARCHAR), 13, '0')
                   || md5('hmatch:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pe
          FROM src_$i),
        vm_$i AS (SELECT x, min(pe) AS mpe FROM (
            SELECT u AS x, pe FROM ed_$i UNION ALL SELECT v AS x, pe FROM ed_$i) GROUP BY 1),
        sel_$i AS MATERIALIZED (
          SELECT e.u, e.v, e.w FROM ed_$i e
          JOIN vm_$i a ON a.x = e.u JOIN vm_$i b ON b.x = e.v
          WHERE e.pe = a.mpe AND e.pe = b.mpe),
        verts_$i AS (SELECT u AS x FROM ed_$i UNION SELECT v FROM ed_$i),
        cmap_$i AS (SELECT u AS x, u AS sx FROM sel_$i UNION ALL SELECT v, u FROM sel_$i),
        sup_$i AS MATERIALIZED (SELECT v.x, coalesce(c.sx, v.x) AS sx
                FROM verts_$i v LEFT JOIN cmap_$i c ON c.x = v.x),
        rek_$i AS MATERIALIZED (SELECT a.sx AS su, b.sx AS sv, e.w
                FROM ed_$i e JOIN sup_$i a ON a.x = e.u JOIN sup_$i b ON b.x = e.v),
        coarse_$i AS MATERIALIZED (
          SELECT least(su, sv) AS cu, greatest(su, sv) AS cv, sum(w) AS w
          FROM rek_$i WHERE su <> sv GROUP BY 1, 2),
        src_${i + 1} AS (SELECT cu AS u, cv AS v, w FROM coarse_$i),
        stats_$i AS (SELECT CAST($i AS INT) AS level,
          CAST((SELECT count(*) FROM verts_$i) AS BIGINT) AS n_vertices,
          CAST((SELECT count(*) FROM sel_$i) AS BIGINT) AS n_matched_pairs,
          CAST((SELECT count(DISTINCT sx) FROM sup_$i) AS BIGINT) AS n_super_vertices,
          CAST((SELECT count(*) FROM coarse_$i) AS BIGINT) AS n_super_edges,
          CAST((SELECT coalesce(sum(w), 0) FROM ed_$i) AS BIGINT) AS edge_weight_before,
          CAST((SELECT coalesce(sum(w), 0) FROM coarse_$i) AS BIGINT) AS edge_weight_after,
          CAST((SELECT coalesce(sum(w), 0) FROM rek_$i WHERE su = sv) AS BIGINT)
            AS collapsed_weight)"""
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        wco AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        src_1 AS (SELECT u, v, w FROM wco),
        ${(1 to levels).map(lvl).mkString(",")}
        ${(1 to levels).map(i => s"SELECT * FROM stats_$i").mkString(" UNION ALL ")}
        ORDER BY level"""
  }

  private def heavyMatchingOracle(rounds: Int): String = {
    val rnds = (1 to rounds).map { i =>
      s"""vm$i AS (SELECT x, min(pe) AS mpe FROM (
            SELECT u AS x, pe FROM ed${i - 1}
            UNION ALL SELECT v AS x, pe FROM ed${i - 1}) GROUP BY 1),
        sel$i AS MATERIALIZED (
          SELECT e.u, e.v, e.w FROM ed${i - 1} e
          JOIN vm$i a ON a.x = e.u JOIN vm$i b ON b.x = e.v
          WHERE e.pe = a.mpe AND e.pe = b.mpe),
        mv$i AS (SELECT u AS x FROM sel$i UNION SELECT v AS x FROM sel$i),
        ed$i AS MATERIALIZED (
          SELECT e.u, e.v, e.w, e.pe FROM ed${i - 1} e
          LEFT JOIN mv$i a ON a.x = e.u LEFT JOIN mv$i b ON b.x = e.v
          WHERE a.x IS NULL AND b.x IS NULL),
        t$i AS (SELECT $i AS round,
                       (SELECT count(*) FROM sel$i) AS n_matched,
                       (SELECT coalesce(sum(w), 0) FROM sel$i) AS matched_weight,
                       (SELECT count(*) FROM ed$i) AS n_remaining)"""
    }.mkString(",\n        ")
    val unioned = (1 to rounds).map(i => s"SELECT * FROM t$i").mkString("\n        UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        wco AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        ed0 AS MATERIALIZED (
          SELECT u, v, w,
                 lpad(CAST(1000000000000 - w AS VARCHAR), 13, '0')
                   || md5('hmatch:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pe
          FROM wco),
        $rnds
        SELECT CAST(round AS INT) AS round,
               CAST(n_matched AS BIGINT) AS n_matched,
               CAST(matched_weight AS BIGINT) AS matched_weight,
               CAST(n_remaining AS BIGINT) AS n_remaining
        FROM ($unioned) ORDER BY round"""
  }

  private def ktrussOracle(k: Int, rounds: Int): String = {
    val minSup = k - 2
    val rnds = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (
          SELECT t.e.u AS u, t.e.v AS v, count(*) AS sup FROM (
            SELECT unnest([
              {'u': a.u, 'v': a.v}, {'u': a.u, 'v': b.v}, {'u': a.v, 'v': b.v}
            ]) AS e
            FROM e${i - 1} a JOIN e${i - 1} b ON b.u = a.u AND a.v < b.v
                             JOIN e${i - 1} c ON c.u = a.v AND c.v = b.v) t
          GROUP BY 1, 2),
        e$i AS MATERIALIZED (
          SELECT e.u, e.v FROM e${i - 1} e JOIN s$i USING (u, v)
          WHERE sup >= $minSup),
        t$i AS (SELECT $i AS round, count(*) AS n_edges,
                       coalesce(sum(sup), 0) AS sum_support
                FROM e$i JOIN s$i USING (u, v))"""
    }.mkString(",\n        ")
    val unioned = (1 to rounds).map(i => s"SELECT * FROM t$i").mkString("\n        UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        $rnds
        SELECT CAST(round AS INT) AS round, CAST(n_edges AS BIGINT) AS n_edges,
               CAST(sum_support AS BIGINT) AS sum_support
        FROM ($unioned) ORDER BY round"""
  }

  /** g57 oracle: `rounds`-deep unrolled Bellman-Ford relaxation over
    * the weighted co-purchase graph (w = max(1, 6 − shared-order
    * count): frequently co-purchased links are cheap). Full-relax
    * unroll — after round i both it and the Spark delta form hold
    * exactly min-cost-over-≤i-edge-paths, so they agree bit for bit.
    */
  private def ssspOracle(rounds: Int): String = {
    val rnds = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (
          SELECT start, node, min(dist) AS dist FROM (
            SELECT * FROM r${i - 1}
            UNION ALL
            SELECT r.start, e.v AS node, r.dist + e.w AS dist
            FROM r${i - 1} r JOIN e ON e.u = r.node) GROUP BY 1, 2)"""
    }.mkString(",\n        ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        hp AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*) AS cnt
              FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        e AS MATERIALIZED (
          SELECT u, v, CAST(greatest(1, 6 - cnt) AS BIGINT) AS w FROM hp
          UNION ALL
          SELECT v AS u, u AS v, CAST(greatest(1, 6 - cnt) AS BIGINT) AS w FROM hp),
        s AS (SELECT DISTINCT u AS start FROM e WHERE u % 500 = 0 AND u <= 2000),
        r0 AS MATERIALIZED (SELECT start, start AS node, CAST(0 AS BIGINT) AS dist FROM s),
        $rnds
        SELECT start, CAST(count(*) AS BIGINT) AS n_reached,
               CAST(sum(dist) AS BIGINT) AS sum_dist,
               CAST(max(dist) AS BIGINT) AS max_dist,
               CAST(sum(node * dist) AS BIGINT) AS dist_checksum
        FROM r$rounds GROUP BY start ORDER BY start"""
  }

  /** g54 oracle: `steps`-deep unrolled deterministic random walk over
    * the undirected co-purchase graph — each step joins the frontier to
    * the ranked adjacency at rank `1 + md5-hash(start, walk, step, cur)
    * mod degree`, exactly the Spark recurrence. Generated, not
    * hand-written.
    */
  /** g73 oracle: the exact scaled-integer PPR recurrence unrolled over
    * the both-direction co-purchase graph (seed = min part id), then the
    * sweep — top-`maxPrefix` by `rank·1e6 // deg`, per-edge inside
    * activation at `max(rank_u, rank_v)`, cumulative volume/within, ppm
    * conductance with the half-volume guard. Generated, mechanical.
    */
  private def sweepCutOracle(iters: Int, maxPrefix: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (
          SELECT od.u AS key,
                 CAST(CASE WHEN od.u = (SELECT s FROM sd) THEN 150000 ELSE 0 END
                   + (85 * coalesce(inc.inc, 0)) // 100 AS BIGINT) AS r
          FROM od LEFT JOIN (
            SELECT e.v AS key, sum(p.r // d.d) AS inc
            FROM e JOIN p${i - 1} p ON p.key = e.u
                   JOIN od d ON d.u = e.u
            GROUP BY e.v) inc ON inc.key = od.u)"""
    }.mkString(",\n        ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.k = b.k AND a.p <> b.p),
        od AS MATERIALIZED (SELECT u, count(*) AS d FROM e GROUP BY 1),
        sd AS (SELECT min(u) AS s FROM e),
        p0 AS (SELECT u AS key,
                      CAST(CASE WHEN u = (SELECT s FROM sd) THEN 1000000 ELSE 0 END AS BIGINT) AS r
               FROM od),
        $rounds,
        sc AS (SELECT p.key, od.d AS deg, (p.r * 1000000) // od.d AS score
               FROM p$iters p JOIN od ON od.u = p.key WHERE p.r > 0),
        tp AS (SELECT key, deg, rk FROM (
            SELECT key, deg,
                   row_number() OVER (ORDER BY score DESC, key) AS rk
            FROM sc) WHERE rk <= $maxPrefix),
        wn AS (SELECT greatest(a.rk, b.rk) AS m, count(*) AS w
               FROM e JOIN tp a ON a.key = e.u JOIN tp b ON b.key = e.v
               GROUP BY 1),
        tot AS (SELECT count(*) AS v2 FROM e),
        sw AS (SELECT tp.rk, tp.key,
                      sum(tp.deg) OVER (ORDER BY tp.rk) AS volc,
                      sum(coalesce(wn.w, 0)) OVER (ORDER BY tp.rk) AS wc
               FROM tp LEFT JOIN wn ON wn.m = tp.rk)
        SELECT CAST(rk AS INT) AS k, CAST(key AS BIGINT) AS added_node,
               CAST(volc AS BIGINT) AS volume,
               CAST(volc - wc AS BIGINT) AS cut,
               CAST(CASE WHEN least(volc, v2 - volc) > 0
                    THEN ((volc - wc) * 1000000) // least(volc, v2 - volc)
                    ELSE 1000000 END AS BIGINT) AS conductance_ppm
        FROM sw CROSS JOIN tot ORDER BY k"""
  }

  private def randomWalksOracle(steps: Int): String = {
    val stepCtes = (1 to steps).map { i =>
      s"""w$i AS MATERIALIZED (
          SELECT p.start, p.w, adj.v AS cur,
                 p.path || '->' || CAST(adj.v AS VARCHAR) AS path
          FROM w${i - 1} p JOIN adj
            ON adj.u = p.cur
           AND adj.rk = 1 + (('0x' || substring(md5('rw:' || CAST(p.start AS VARCHAR) || ':' || CAST(p.w AS VARCHAR) || ':$i:' || CAST(p.cur AS VARCHAR)), 1, 7))::BIGINT % adj.deg))"""
    }.mkString(",\n        ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.k = b.k AND a.p <> b.p),
        adj AS MATERIALIZED (SELECT u, v,
               row_number() OVER (PARTITION BY u ORDER BY v) AS rk,
               count(*) OVER (PARTITION BY u) AS deg FROM e),
        s AS (SELECT DISTINCT u AS start FROM adj WHERE u % 20 = 0),
        w0 AS (SELECT start, t.w, start AS cur, CAST(start AS VARCHAR) AS path
               FROM s CROSS JOIN (SELECT unnest([0, 1]) AS w) t),
        $stepCtes
        SELECT start, CAST(w AS INT) AS walk, cur AS end_node, path
        FROM w$steps ORDER BY start, walk"""
  }

  /** g51 oracle: `rounds`-deep unrolled k-core peel over the co-purchase
    * graph — k_i keeps vertices with degree ≥ k in e_{i-1}, e_i
    * restricts edges to kept endpoints; a vertex's peel round is the
    * FIRST k_i it misses (a vertex removed earlier has no e_{i-1} edges,
    * so it stays missing from every later k_j). Generated, not
    * hand-written — the CTE chain is mechanical.
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and each
    // round references the previous edge set three times — inlined, the
    // unroll expands 3^rounds scans of lineitem (observed as an fd-
    // exhaustion error at depth 10); materialized it is linear in rounds
    val cteChain = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT x FROM (SELECT u AS x FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
                  GROUP BY x HAVING count(*) >= $k),
        e$i AS MATERIALIZED (SELECT p.u, p.v FROM e${i - 1} p
                JOIN k$i a ON a.x = p.u JOIN k$i b ON b.x = p.v)"""
    }.mkString(",\n        ")
    val peelCase = (1 to rounds).map(i => s"WHEN k$i.x IS NULL THEN $i").mkString(" ")
    val leftJoins = (1 to rounds).map(i => s"LEFT JOIN k$i ON k$i.x = v.x").mkString("\n        ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        v AS (SELECT DISTINCT x FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)),
        $cteChain,
        fd AS (SELECT x, count(*) AS d
               FROM (SELECT u AS x FROM e$rounds UNION ALL SELECT v FROM e$rounds) GROUP BY 1)
        SELECT v.x AS part,
               CAST(CASE $peelCase ELSE 0 END AS INT) AS peel_round,
               CAST(coalesce(fd.d, 0) AS INT) AS core_deg
        FROM v
        $leftJoins
        LEFT JOIN fd ON fd.x = v.x
        ORDER BY part"""
  }

  /** g52 oracle: `iters` unrolled HITS rounds in the same exact
    * scaled-integer arithmetic as the Spark side — per round an
    * authority half-step (sum of hub scores over in-edges, max-
    * normalized by floor division) then a hub half-step (sum of the
    * fresh authority scores over out-edges, max-normalized). CTEs are
    * MATERIALIZED for the same 3^depth inlining reason as [[kcoreOracle]];
    * sums cast to BIGINT so DuckDB's HUGEINT widening never reaches the
    * output.
    */
  private def hitsOracle(iters: Int, scale: Long = 1000000L): String = {
    val rounds = (1 to iters).map { i =>
      s"""a${i}r AS MATERIALIZED (SELECT e.dst AS key, CAST(sum(h.h) AS BIGINT) AS raw
               FROM e JOIN h${i - 1} h ON h.key = e.src GROUP BY e.dst),
        a$i AS MATERIALIZED (SELECT v.key,
               CAST((coalesce(r.raw, 0) * $scale) // greatest((SELECT max(raw) FROM a${i}r), 1) AS BIGINT) AS a
               FROM v LEFT JOIN a${i}r r USING (key)),
        h${i}r AS MATERIALIZED (SELECT e.src AS key, CAST(sum(a.a) AS BIGINT) AS raw
               FROM e JOIN a$i a ON a.key = e.dst GROUP BY e.src),
        h$i AS MATERIALIZED (SELECT v.key,
               CAST((coalesce(r.raw, 0) * $scale) // greatest((SELECT max(raw) FROM h${i}r), 1) AS BIGINT) AS h
               FROM v LEFT JOIN h${i}r r USING (key))"""
    }.mkString(",\n        ")
    s"""
        WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT 'order_' || CAST(o_orderkey AS VARCHAR) AS src,
                 'customer_' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
          UNION ALL
          SELECT 'customer_' || CAST(c_custkey AS VARCHAR),
                 'nation_' || CAST(c_nationkey AS VARCHAR) FROM customer
          UNION ALL
          SELECT 'supplier_' || CAST(s_suppkey AS VARCHAR),
                 'nation_' || CAST(s_nationkey AS VARCHAR) FROM supplier
          UNION ALL
          SELECT 'nation_' || CAST(n_nationkey AS VARCHAR),
                 'region_' || CAST(n_regionkey AS VARCHAR) FROM nation)),
        v AS MATERIALIZED (SELECT DISTINCT src AS key FROM e UNION SELECT DISTINCT dst FROM e),
        h0 AS MATERIALIZED (SELECT key, CAST($scale AS BIGINT) AS h FROM v),
        $rounds
        SELECT v.key, h$iters.h AS hub_scaled, a$iters.a AS auth_scaled
        FROM v JOIN h$iters ON h$iters.key = v.key JOIN a$iters ON a$iters.key = v.key
        ORDER BY auth_scaled DESC, hub_scaled DESC, v.key LIMIT 15"""
  }

  /** g53 oracle: the Bahmani et al. batched densest-subgraph peel,
    * unrolled to `rounds` levels (emitting summary rows for rounds
    * 0..rounds−1, matching the Spark side's identical `maxRounds` cap)
    * — same MATERIALIZED discipline as [[kcoreOracle]]. The removal
    * test is the exact cross-multiplied integer form; each round's
    * vertex set is pinned by its key-sum checksum.
    */
  private def densestOracle(rounds: Int, epsNum: Long = 1L,
                            epsDen: Long = 10L): String = {
    val thr = 2L * (epsDen + epsNum)
    val chain = (1 until rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT x FROM (SELECT u AS x FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
                GROUP BY x
                HAVING count(*) * (SELECT count(*) FROM v${i - 1}) * $epsDen > $thr * (SELECT count(*) FROM e${i - 1})),
        e$i AS MATERIALIZED (SELECT p.u, p.v FROM e${i - 1} p
                JOIN k$i a ON a.x = p.u JOIN k$i b ON b.x = p.v),
        v$i AS MATERIALIZED (SELECT DISTINCT u AS x FROM e$i UNION SELECT DISTINCT v FROM e$i)"""
    }.mkString(",\n        ")
    val summaries = (0 until rounds).map { i =>
      s"""SELECT $i AS round, (SELECT count(*) FROM v$i) AS n,
              (SELECT count(*) FROM e$i) AS m,
              (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM v$i) AS cks"""
    }.mkString("\n        UNION ALL ")
    s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        v0 AS MATERIALIZED (SELECT DISTINCT u AS x FROM e0 UNION SELECT DISTINCT v FROM e0),
        $chain,
        s AS (SELECT * FROM ($summaries) WHERE n > 0)
        SELECT CAST(round AS INT) AS round, CAST(n AS BIGINT) AS n_vertices,
               CAST(m AS BIGINT) AS n_edges,
               CAST(m * 1000000 // n AS BIGINT) AS density_micro,
               cks AS vtx_checksum,
               CAST(CASE WHEN row_number() OVER (ORDER BY m * 1000000 // n DESC, round ASC) = 1
                    THEN 1 ELSE 0 END AS INT) AS is_best
        FROM s ORDER BY round"""
  }

  /** All-table node count used by the cascade-delete oracle. */
  private val allNodeCountSql =
    "(SELECT count(*) FROM region)+(SELECT count(*) FROM nation)+(SELECT count(*) FROM customer)" +
      "+(SELECT count(*) FROM supplier)+(SELECT count(*) FROM part)+(SELECT count(*) FROM orders)" +
      s"+(SELECT count(*) FROM $liSql)"

  private val allEdgeCountSql =
    "(SELECT count(*) FROM customer)+(SELECT count(*) FROM supplier)+(SELECT count(*) FROM nation)" +
      s"+(SELECT count(*) FROM orders)+3*(SELECT count(*) FROM $liSql)"

  val all: Seq[Q] = Seq(

    Q("g01_nodes_by_type",
      (s, d) => g(s, d).nodeCountsByType(),
      Some("""
        SELECT nodeType, CAST(n AS BIGINT) AS n FROM (
          SELECT 'region' AS nodeType, count(*) AS n FROM region UNION ALL
          SELECT 'nation', count(*) FROM nation UNION ALL
          SELECT 'customer', count(*) FROM customer UNION ALL
          SELECT 'supplier', count(*) FROM supplier UNION ALL
          SELECT 'part', count(*) FROM part UNION ALL
          SELECT 'order', count(*) FROM orders UNION ALL
          SELECT 'lineitem', count(*) FROM """ + liSql + """
        ) ORDER BY nodeType"""),
      "A2/S1 — full-graph load + per-type counts (ref Storage.fs:188-193)"),

    Q("g02_node_lookup",
      // the driver compare is row-order-sensitive — sort explicitly
      // rather than relying on input-order preservation on either engine
      (s, d) => g(s, d).nodesByKeys(Seq("customer_1", "supplier_2", "nation_3"))
        .select("key", "nodeType", "prettyName").orderBy("key"),
      Some("""
        SELECT * FROM (
          SELECT 'customer_1' AS key, 'customer' AS nodeType,
                 (SELECT c_name FROM customer WHERE c_custkey=1) AS prettyName UNION ALL
          SELECT 'supplier_2', 'supplier', (SELECT s_name FROM supplier WHERE s_suppkey=2) UNION ALL
          SELECT 'nation_3', 'nation', (SELECT n_name FROM nation WHERE n_nationkey=3)
        ) ORDER BY key"""),
      "P1/P2/S3 — batch key lookup preserving input order (ref Storage.fs:223-237)"),

    Q("g03_filter_regex",
      (s, d) => g(s, d).filterPrettyName("[13579]$")
        .filter(col("nodeType") === "customer")
        .select("key", "prettyName").orderBy("key"),
      Some("""
        SELECT 'customer_'||c_custkey AS key, c_name AS prettyName
        FROM customer WHERE regexp_matches(c_name, '[13579]$')
        ORDER BY key"""),
      "P6 — regex filter on display names (ref Library.fs:1396-1399)"),

    Q("g04_traverse_in",
      (s, d) => {
        val gr = g(s, d)
        val e = gr.edges.filter(col("relType") === "PlacedBy" && col("dst") === "customer_42")
        e.join(gr.nodes, e("src") === gr.nodes("key"))
          .select(gr.nodes("key"), gr.nodes("prettyName")).orderBy("key")
      },
      Some("""
        SELECT 'order_'||o_orderkey AS key, 'Order '||o_orderkey AS prettyName
        FROM orders WHERE o_custkey = 42 ORDER BY key"""),
      "J1/J2 — edge traversal + sink materialization (ref Graph.fs:744-764)"),

    Q("g05_two_hop",
      (s, d) => {
        val gr = g(s, d)
        val hops = gr.twoHop("InNation", "InRegion").filter(col("a").startsWith("customer_"))
        hops.join(gr.nodes, hops("c") === gr.nodes("key"))
          .groupBy(gr.nodes("prettyName").as("r_name"))
          .agg(count(lit(1)).as("n")).orderBy("r_name")
      },
      Some("""
        SELECT r_name, CAST(count(*) AS BIGINT) AS n
        FROM customer JOIN nation ON c_nationkey=n_nationkey
        JOIN region ON n_regionkey=r_regionkey
        GROUP BY r_name ORDER BY r_name"""),
      "J3 — two-hop chain customer→nation→region (ref Library.fs:1090-1101)"),

    Q("g06_exists_semi",
      (s, d) => {
        val gr = g(s, d)
        gr.nodesOfType("customer")
          .join(gr.edges.filter(col("relType") === "PlacedBy"),
            col("key") === col("dst"), "left_semi")
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),
      "J4 — existence semi-join (ref Library.fs:346-353)"),

    Q("g07_hyperedge_motif",
      (s, d) => {
        val gr = g(s, d)
        // the filtered hyperedge set is tiny — broadcast it through every
        // join so the large edge/node sets stream without shuffling
        val li = broadcast(gr.edges
          .filter(col("relType") === "PartOf" && col("dst") === "order_1")
          .select(col("src").as("li")))
        val ofPart = gr.edges.filter(col("relType") === "OfPart")
          .select(col("src").as("li"), col("dst").as("pk"))
        val bySupp = gr.edges.filter(col("relType") === "SuppliedBy")
          .select(col("src").as("li"), col("dst").as("sk"))
        val parts = gr.nodesOfType("part").select(col("key").as("pk"), col("prettyName").as("part_name"))
        val supps = gr.nodesOfType("supplier").select(col("key").as("sk"), col("prettyName").as("supplier_name"))
        val motif = broadcast(li.join(ofPart, "li").join(bySupp, "li"))
        motif.join(parts, "pk").join(supps, "sk")
          .select("li", "part_name", "supplier_name").orderBy("li")
      },
      Some("""
        SELECT 'lineitem_'||l_orderkey||'_'||l_linenumber AS li,
               p_name AS part_name, s_name AS supplier_name
        FROM """ + liSql + """ JOIN part ON l_partkey=p_partkey
        JOIN supplier ON l_suppkey=s_suppkey
        WHERE l_orderkey = 1 ORDER BY li"""),
      "J5/J6 — hyperedge read-back motif (ref Population.fs:181-184, Library.fs:204-251)"),

    Q("g08_cascade_delete",
      (s, d) => {
        import s.implicits._
        val g2 = g(s, d).removeNodes(Seq("nation_0").toDS())
        g2.nodes.agg(count(lit(1)).as("nodes_n"))
          .crossJoin(g2.edges.agg(count(lit(1)).as("edges_n")))
      },
      Some(s"""
        SELECT CAST($allNodeCountSql - 1 AS BIGINT) AS nodes_n,
               CAST($allEdgeCountSql
                 - (SELECT count(*) FROM customer WHERE c_nationkey=0)
                 - (SELECT count(*) FROM supplier WHERE s_nationkey=0)
                 - 1 AS BIGINT) AS edges_n"""),
      "M5 — cascade delete of a node and all touching edges (ref Graph.fs:119-132)"),

    Q("g09_edge_dedup",
      (s, d) => {
        val gr = g(s, d)
        val dups = TpchGraph.edges(s, d).filter(col("relType") === "PlacedBy")
        gr.addRelationsUnchecked(dups).edges
          .filter(col("relType") === "PlacedBy").agg(count(lit(1)).as("n"))
      },
      Some("SELECT CAST(count(*) AS BIGINT) AS n FROM orders"),
      "M6/U2 — edge add with identical-tuple dedup (ref Graph.fs:134-152)"),

    Q("g10_insert_conflict",
      (s, d) => {
        import s.implicits._
        val gr = g(s, d)
        val newNodes = gr.nodesOfType("customer")
          .filter(col("key").isin((0 until 10).map(i => s"customer_$i"): _*))
        gr.addNodes(newNodes.as[NodeRow]) match {
          case Left(dups) => dups.sorted.toDF("key")
          case Right(_)   => s.emptyDataset[String].toDF("key")
        }
      },
      Some("SELECT 'customer_'||c_custkey AS key FROM customer WHERE c_custkey < 10 ORDER BY key"),
      "M1 — strict insert errors on duplicate keys (ref Graph.fs:63-70)"),

    Q("g11_upsert_skip",
      (s, d) => {
        import s.implicits._
        val gr = g(s, d)
        val newNodes = ((0 until 10).map(i =>
          NodeRow(s"customer_$i", "customer", "SHOULD_NOT_APPEAR", "{}")) :+
          NodeRow("customer_99999999", "customer", "NEW", "{}")).toDS()
        gr.addNodesOrSkip(newNodes).nodesOfType("customer").agg(
          count(lit(1)).as("n"),
          max(when(col("key") === "customer_1", col("prettyName"))).as("name1"),
          max(when(col("key") === "customer_99999999", col("prettyName"))).as("new_name"))
      },
      Some("""
        SELECT CAST(count(*)+1 AS BIGINT) AS n,
               (SELECT c_name FROM customer WHERE c_custkey=1) AS name1,
               'NEW' AS new_name
        FROM customer"""),
      "M2 — idempotent insert skips existing keys (ref Graph.fs:72-79)"),

    Q("g12_replace_node",
      (s, d) => {
        import s.implicits._
        val gr = g(s, d)
        val repl = Seq(NodeRow("customer_1", "customer", "UPDATED", "{}")).toDS()
        gr.replaceNodes(repl).nodeByKey("customer_1").select("key", "prettyName")
      },
      Some("SELECT 'customer_1' AS key, 'UPDATED' AS prettyName"),
      "M4 — replace payload keeping key + adjacency (ref Graph.fs:81-90)"),

    Q("g13_seed_graph",
      (s, d) => {
        val sg = Seed.seedGraph(s)
        sg.nodes.filter(col("nodeType") === "calyearnode").agg(count(lit(1)).as("years_n"))
          .crossJoin(sg.nodes.agg(count(lit(1)).as("nodes_n")))
          .crossJoin(sg.edges.agg(count(lit(1)).as("edges_n")))
          .crossJoin(sg.edges.agg(
            max(when(col("relType") === "EarliestTime", col("dst"))).as("earliest_dst"),
            max(when(col("relType") === "LatestTime", col("dst"))).as("latest_dst")))
      },
      Some("""
        SELECT CAST((SELECT count(*) FROM generate_series(-72,14000)) AS BIGINT) AS years_n,
               CAST((SELECT count(*) FROM generate_series(-72,14000)) + 9 AS BIGINT) AS nodes_n,
               CAST(2 AS BIGINT) AS edges_n,
               'calyearnode_11650ybp' AS earliest_dst,
               'calyearnode_0ybp' AS latest_dst"""),
      "S14 — seed graph invariants (ref Seed.fs:48-99)"),

    Q("g14_stats_fold",
      // uncached graph: this query consumes the JSON payload, and the
      // uncached plan lets Catalyst prune payload construction to the
      // single union branch (orders) it reads
      // encodeParallelism: the single-row-group orders file scans as ONE
      // partition, which would serialize the payload JSON encode on one
      // core (measured 1.2-3.4 s at sf0.1 vs ~0.7 s spread over 32)
      (s, d) => TpchGraph.graph(s, d,
        encodeParallelism = Some(s.sparkContext.defaultParallelism)).conditionalCounts("order", Map(
        "high_value" -> (col("pf_o_totalprice").cast("double") > 300000),
        "n_f" -> (col("pf_o_orderstatus") === "F"),
        "n_o" -> (col("pf_o_orderstatus") === "O"),
        "n_p" -> (col("pf_o_orderstatus") === "P")),
        // one json_tuple parse feeding all four counters — N separate
        // get_json_object conditions would re-parse the payload N times
        payloadFields = Seq("o_totalprice", "o_orderstatus")),
      Some("""
        SELECT CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS high_value,
               CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders"""),
      "A1 — single-pass conditional-count fold incl. JSON payload projection (ref Library.fs:328-367)"),

    Q("g15_next_edges",
      (s, d) => {
        val o = TpchGraph.table(s, d, "orders")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        o.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(concat(lit("order_"), col("o_orderkey")).as("src"),
                  concat(lit("order_"), col("nxt")).as("dst"))
          .orderBy("src")
      },
      Some("""
        SELECT 'order_'||o_orderkey AS src, 'order_'||nxt AS dst FROM (
          SELECT o_orderkey,
                 lead(o_orderkey) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS nxt
          FROM orders)
        WHERE nxt IS NOT NULL ORDER BY src"""),
      "§2.5 — derive Next sequence edges with a lead window (ref Exposure.fs:123)"),

    Q("g16_index",
      (s, d) => g(s, d).index(),
      Some("""
        SELECT key, nodeType, prettyName FROM (
          SELECT 'region_'||r_regionkey AS key, 'region' AS nodeType, r_name AS prettyName FROM region UNION ALL
          SELECT 'nation_'||n_nationkey, 'nation', n_name FROM nation UNION ALL
          SELECT 'customer_'||c_custkey, 'customer', c_name FROM customer UNION ALL
          SELECT 'supplier_'||s_suppkey, 'supplier', s_name FROM supplier UNION ALL
          SELECT 'part_'||p_partkey, 'part', p_name FROM part UNION ALL
          SELECT 'order_'||o_orderkey, 'order', 'Order '||o_orderkey FROM orders UNION ALL
          SELECT 'lineitem_'||l_orderkey||'_'||l_linenumber, 'lineitem',
                 'Line '||l_orderkey||'_'||l_linenumber FROM """ + liSql + """
        ) ORDER BY nodeType, key"""),
      "S2/S6/O1/A4 — sorted-distinct index projection (ref Storage.fs:160-171)"),

    Q("g17_year_normalize",
      (s, d) => {
        import s.implicits._
        val fromOrders = TpchGraph.table(s, d, "orders")
          .select(lit("AD").as("calendar"), year(col("o_orderdate")).cast("double").as("val"))
          .distinct()
        val probes = Seq(("BP", 12000.0), ("BC", 300.0), ("AD", 1950.0), ("calYrBP", 9999.4))
          .toDF("calendar", "val")
        fromOrders.unionByName(probes)
          .withColumn("year_bp", Time.holoceneCalYearCol(col("calendar"), col("val")))
          .withColumn("node_key", Time.timeNodeKeyCol(col("year_bp")))
          .orderBy("calendar", "val")
      },
      Some(s"""
        SELECT calendar, val,
               CAST(round(CASE WHEN calendar='AD' THEN 1950-val
                               WHEN calendar='BC' THEN 1950+val
                               ELSE val END) AS INT) AS year_bp,
               CASE WHEN CAST(round(CASE WHEN calendar='AD' THEN 1950-val
                                         WHEN calendar='BC' THEN 1950+val
                                         ELSE val END) AS INT) > 11650
                    THEN '${Time.PreHoloceneKey}'
                    ELSE 'calyearnode_'||CAST(round(CASE WHEN calendar='AD' THEN 1950-val
                                                         WHEN calendar='BC' THEN 1950+val
                                                         ELSE val END) AS INT)||'ybp'
               END AS node_key
        FROM (
          SELECT DISTINCT 'AD' AS calendar, CAST(year(o_orderdate) AS DOUBLE) AS val FROM orders
          UNION ALL SELECT * FROM (VALUES ('BP', 12000.0), ('BC', 300.0),
                                          ('AD', 1950.0), ('calYrBP', 9999.4)) t(calendar, val)
        ) ORDER BY calendar, val"""),
      "F6/F7/J8/J9 — calendar normalization + time-index routing (ref Scenarios.fs:12-40)"),

    Q("g18_graphx_components",
      (s, d) => {
        val gr = g(s, d)
        val cc = graft.plans.GraphAnalytics.connectedComponents(s, gr,
          Seq("InNation", "InRegion"), Seq("region", "nation", "customer", "supplier"))
        val sizes = cc.groupBy("component").agg(count(lit(1)).as("n"))
        val regions = cc.join(gr.nodesOfType("region"), "key")
          .select(col("component"), col("prettyName").as("r_name"))
        regions.join(sizes, "component").select("r_name", "n").orderBy("r_name")
      },
      Some("""
        SELECT r_name,
               CAST(1 + (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
                         WHERE n2.n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM supplier JOIN nation n3 ON s_nationkey = n3.n_nationkey
                         WHERE n3.n_regionkey = r_regionkey) AS BIGINT) AS n
        FROM region ORDER BY r_name"""),
      "GraphX — connected components over the dimension subgraph (SURVEY §7.3 analytics path)"),

    Q("g23_dataframe_components",
      (s, d) => {
        val gr = g(s, d)
        val cc = graft.plans.DfConnectedComponents.connectedComponents(s, gr,
          Seq("InNation", "InRegion"), Seq("region", "nation", "customer", "supplier"))
        val sizes = cc.groupBy("component").agg(count(lit(1)).as("n"))
        val regions = cc.join(gr.nodesOfType("region"), "key")
          .select(col("component"), col("prettyName").as("r_name"))
        regions.join(sizes, "component").select("r_name", "n").orderBy("r_name")
      },
      Some("""
        SELECT r_name,
               CAST(1 + (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
                         WHERE n2.n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM supplier JOIN nation n3 ON s_nationkey = n3.n_nationkey
                         WHERE n3.n_regionkey = r_regionkey) AS BIGINT) AS n
        FROM region ORDER BY r_name"""),
      "DataFrame-native connected components (large-star/small-star contraction, " +
        "O(log n) rounds, Tungsten-only) — the scale path where GraphX RDDs are wrong"),

    Q("g19_graphx_bfs",
      (s, d) => {
        val gr = g(s, d)
        val rootKeys = gr.nodesOfType("region").select("key").collect().map(_.getString(0)).toSet
        graft.plans.GraphAnalytics.bfsDepths(s, gr, rootKeys,
            Seq("InNation", "InRegion"), Seq("region", "nation", "customer", "supplier"),
            maxDepth = 2, reverse = true)
          .groupBy("depth").agg(count(lit(1)).as("n")).orderBy("depth")
      },
      Some("""
        SELECT depth, CAST(n AS BIGINT) AS n FROM (
          SELECT 0 AS depth, count(*) AS n FROM region UNION ALL
          SELECT 1, count(*) FROM nation UNION ALL
          SELECT 2, (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        ) ORDER BY depth"""),
      "GraphX — Pregel BFS hop-distance from root set (recursive-closure engine)"),

    Q("g20_graphx_rollup",
      (s, d) => {
        val gr = g(s, d)
        val rootKeys = gr.nodesOfType("region").select("key").collect().map(_.getString(0)).toSet
        graft.plans.GraphAnalytics.labelFromRoots(s, gr, rootKeys,
            Seq("InNation", "InRegion"), Seq("region", "nation", "customer", "supplier"),
            maxDepth = 2)
          .groupBy("rootKey").agg(count(lit(1)).as("n")).orderBy("rootKey")
      },
      Some("""
        SELECT 'region_'||r_regionkey AS rootKey,
               CAST(1 + (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
                         WHERE n2.n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM supplier JOIN nation n3 ON s_nationkey = n3.n_nationkey
                         WHERE n3.n_regionkey = r_regionkey) AS BIGINT) AS n
        FROM region ORDER BY rootKey"""),
      "GraphX — Pregel root-label propagation (taxonomy IsA* rollup pattern)"),

    Q("g21_motif_api",
      (s, d) => Motif.find(g(s, d), "(c)-[:InNation]->(n); !(x)-[:PlacedBy]->(c)")
        .filter(col("c.nodeType") === "customer")
        .groupBy(col("n.prettyName").as("n_name"))
        .agg(count(lit(1)).as("orderless_customers"))
        .orderBy("n_name"),
      Some("""
        SELECT n_name, CAST(count(*) AS BIGINT) AS orderless_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        GROUP BY n_name ORDER BY n_name"""),
      "J6 generalized — GraphFrames-style motif pattern (join-tree compile incl. " +
        "negated term → anti-join); declarative form of ref Library.fs:204-251"),

    Q("g22_range_contains",
      (s, d) => {
        import s.implicits._
        // the three ratified Holocene stages (GSSP), as [newest, oldest] BP
        val eras = Seq(
          ("greenlandian", 8327, 11650),
          ("northgrippian", 4201, 8326),
          ("meghalayan", 0, 4200)).toDF("era", "lo", "hi")
        val years = Seed.yearDimension(s)
          .select(col("key"), get_json_object(col("payload"), "$.year").cast("int").as("y"))
        // interval containment as a range predicate against a broadcast
        // dim (the alternative to materializing one Contains edge per
        // year, ref Exposure.fs:125); post-1950 years match no era
        years.join(broadcast(eras), col("y").between(col("lo"), col("hi")))
          .groupBy("era")
          .agg(count(lit(1)).as("n_years"),
            concat(lit("calyearnode_"), max(col("y")).cast("string"), lit("ybp")).as("earliest_key"),
            concat(lit("calyearnode_"), min(col("y")).cast("string"), lit("ybp")).as("latest_key"))
          .orderBy("era")
      },
      Some("""
        WITH eras(era, lo, hi) AS (VALUES
          ('greenlandian', 8327, 11650),
          ('northgrippian', 4201, 8326),
          ('meghalayan', 0, 4200)),
        years AS (SELECT unnest(generate_series(-72, 14000)) AS y)
        SELECT era, CAST(count(*) AS BIGINT) AS n_years,
               'calyearnode_' || max(y) || 'ybp' AS earliest_key,
               'calyearnode_' || min(y) || 'ybp' AS latest_key
        FROM years JOIN eras ON y BETWEEN lo AND hi
        GROUP BY era ORDER BY era"""),
      "§2.3 range join — year-interval containment as a BETWEEN predicate against a " +
        "broadcast era dim (alternative to materialized Contains edges, ref Exposure.fs:125)"),

    Q("g25_contains_edges",
      (s, d) => {
        import s.implicits._
        // same three Holocene stages as g22, edge-materialized this time
        // (the reference's declared parity semantics, Exposure.fs:125)
        val eras = Seq(
          ("greenlandian", 8327, 11650),
          ("northgrippian", 4201, 8326),
          ("meghalayan", 0, 4200)).toDF("era", "latestBP", "earliestBP")
        val extents = eras.select(
          concat(lit(NodeTypes.QualitativeLabelNode + "_"), col("era")).as("labelKey"),
          col("earliestBP"), col("latestBP"))
        Seed.containsEdges(extents)
          .select("src", "dst", "relType")
          .orderBy("src", "dst")
      },
      Some("""
        WITH eras(era, lo, hi) AS (VALUES
          ('greenlandian', 8327, 11650),
          ('northgrippian', 4201, 8326),
          ('meghalayan', 0, 4200))
        SELECT 'qualitativelabelnode_' || era AS src,
               'calyearnode_' || y || 'ybp' AS dst,
               'Contains' AS relType
        FROM (SELECT era, unnest(generate_series(lo, hi)) AS y FROM eras)
        ORDER BY src, dst"""),
      "§2.3 materialized Contains edges — year-range membership as explicit edge rows " +
        "(sequence+explode, map-side linear; parity twin of g22's range join, ref Exposure.fs:125)"),

    Q("g26_txn_composite_edges",
      (s, _) => committedScenario(s).edges.toDF()
        .select("src", "dst", "relType", "relPayload")
        .orderBy("relType", "src", "dst"),
      Some("""
        WITH expected(src, dst, relType, relPayload) AS (VALUES
          -- seed extent edges (Seed.fs:64-98)
          ('qualitativelabelnode_holocene_by_global_stratotype_section_and_point',
           'calyearnode_11650ybp', 'EarliestTime', '{}'),
          ('qualitativelabelnode_holocene_by_global_stratotype_section_and_point',
           'calyearnode_0ybp', 'LatestTime', '{}'),
          -- simpleSite (M11): extent wiring incl. +/-100yr uncertainty
          ('sourcenode_pub_doe_trconf_2020',
           'individualtimelinenode_00000000-0000-4000-8000-000000000101', 'HasTemporalExtent', '{}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000101',
           'calyearnode_11000ybp', 'ExtentEarliestSpecified', '{"calYearBP":11000}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000101',
           'calyearnode_' || (1950 - 1000) || 'ybp', 'ExtentLatestSpecified', '{"calYearBP":950}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000101',
           'contextnode_00000000-0000-4000-8000-000000000102', 'IsLocatedAt', '{}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000101',
           'calyearnode_' || (11000 + 100) || 'ybp', 'ExtentEarliestUncertainty', '{}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000101',
           'calyearnode_' || (11000 - 100) || 'ybp', 'ExtentEarliestUncertainty', '{}'),
          -- treeRing (M12): collection year AD 2000 -> -50 BP
          ('sourcenode_pub_doe_trconf_2020',
           'individualtimelinenode_00000000-0000-4000-8000-000000000201', 'HasTemporalExtent', '{}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000201',
           'calyearnode_' || (1950 - 2000) || 'ybp', 'ExtentLatestSpecified', '{"calYearBP":-50}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000201',
           'contextnode_00000000-0000-4000-8000-000000000202', 'IsLocatedAt', '{}'),
          -- proxiedTaxon hyperedge (M9/M10) fan-out
          ('proxiedtaxonnode_00000000-0000-4000-8000-000000000203',
           'bioticproxynode_morphotype_pollen_betula', 'InferredFrom', '{}'),
          ('proxiedtaxonnode_00000000-0000-4000-8000-000000000203',
           'inferencemethodnode_implicit', 'InferredUsing', '{}'),
          ('proxiedtaxonnode_00000000-0000-4000-8000-000000000203',
           'biodiversitydimensionnode_presence', 'MeasuredBy', '{}'),
          ('individualtimelinenode_00000000-0000-4000-8000-000000000201',
           'proxiedtaxonnode_00000000-0000-4000-8000-000000000203', 'HasProxyInfo', '{}'),
          ('proxiedtaxonnode_00000000-0000-4000-8000-000000000203',
           'taxonnode_life', 'InferredAs', '{}'))
        SELECT * FROM expected ORDER BY relType, src, dst"""),
      "M9-M12 end-to-end — commit simpleSite + treeRing macro-transactions through the " +
        "M1/M6 gates; every emitted edge recomputed by the oracle (ref Scenarios.fs:133-311)"),

    Q("g27_txn_node_counts",
      (s, _) => committedScenario(s).nodes.toDF()
        .groupBy("nodeType").agg(count(lit(1)).as("n"))
        .orderBy("nodeType"),
      Some("""
        WITH expected(nodeType, n) AS (VALUES
          ('biodiversitydimensionnode', 6),
          ('bioticproxynode', 1),
          ('calyearnode', 14000 - (-72) + 1),
          ('contextnode', 2),
          ('individualtimelinenode', 2),
          ('inferencemethodnode', 1),
          ('proxiedtaxonnode', 1),
          ('qualitativelabelnode', 1),
          ('qualitativelabeloutofscopenode', 1),
          ('sourcenode', 1),
          ('taxonnode', 1))
        SELECT nodeType, CAST(n AS BIGINT) AS n FROM expected ORDER BY nodeType"""),
      "M9-M12 end-to-end — node population after the composite commits (strict insert " +
        "M1 over the 14k-node seed; per-type counts match the oracle's expected census)"),

    Q("g28_section_progress",
      (s, d) => {
        import graft.core.Transactions
        val sections = Transactions.CodingSections
        val sectionsArr = array(sections.map(lit): _*)
        // deterministic fixture: each order is an "included source";
        // bits of o_orderkey%8 pick its completed sections, o_orderkey%4
        // marks some partially-coded sources stalled, o_orderkey%3 picks
        // the section the CompleteSection event targets — together the
        // fixture hits every branch of the reference fold
        // (Library.fs:715-753): absorbing CompletedAll, None→InProgress,
        // InProgress→CompletedAll on the last missing section,
        // un-stalling, and stalled accumulation
        val o = TpchGraph.table(s, d, "orders").select(col("o_orderkey").cast("long").as("k"))
        val mask = (col("k") % 8).cast("int")
        def bit(b: Int, name: String) =
          when(mask.bitwiseAND(lit(b)) =!= 0, array(lit(name))).otherwise(array().cast("array<string>"))
        val before = o
          .withColumn("completed", concat(bit(1, sections(0)), bit(2, sections(1)), bit(4, sections(2))))
          .withColumn("progress",
            when(size(col("completed")) === 3, "CompletedAll")
              .when(size(col("completed")) === 0, "CompletedNone")
              .when(col("k") % 4 === 0, "Stalled")
              .otherwise("InProgress"))
          .withColumn("stalledSection",
            when(col("progress") === "Stalled",
              element_at(array_except(sectionsArr, col("completed")), 1))
              .otherwise(lit(null).cast("string")))
          .withColumn("stalledReason",
            when(col("progress") === "Stalled", lit("awaiting data")).otherwise(lit(null).cast("string")))
          .withColumn("section", element_at(sectionsArr, (col("k") % 3).cast("int") + 1))
        before
          .withColumn("res", Transactions.completeSectionCol(
            col("progress"), col("completed"), col("stalledSection"), col("stalledReason"), col("section")))
          .groupBy(col("progress").as("before_state"), col("res.progress").as("after_state"))
          .agg(count(lit(1)).as("n"),
            sum(size(col("res.completedSections"))).cast("long").as("sections_done"))
          .orderBy("before_state", "after_state")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey % 8 AS mask, o_orderkey % 4 AS m4, o_orderkey % 3 AS m3,
            (CASE WHEN (o_orderkey % 8) & 1 <> 0 THEN ['source-primary-or-secondary'] ELSE [] END) ||
            (CASE WHEN (o_orderkey % 8) & 2 <> 0 THEN ['exposure'] ELSE [] END) ||
            (CASE WHEN (o_orderkey % 8) & 4 <> 0 THEN ['outcome'] ELSE [] END) AS completed
          FROM orders),
        st AS (
          SELECT *,
            CASE WHEN len(completed) = 3 THEN 'CompletedAll'
                 WHEN len(completed) = 0 THEN 'CompletedNone'
                 WHEN m4 = 0 THEN 'Stalled' ELSE 'InProgress' END AS progress,
            ['source-primary-or-secondary','exposure','outcome'][m3 + 1] AS section
          FROM base),
        st2 AS (
          SELECT *,
            CASE WHEN progress = 'Stalled'
                 THEN list_filter(['source-primary-or-secondary','exposure','outcome'],
                                  x -> NOT list_contains(completed, x))[1]
                 ELSE NULL END AS stalled_section,
            list_distinct(list_prepend(section, completed)) AS done
          FROM st),
        res AS (
          SELECT progress AS before_state,
            CASE WHEN progress = 'CompletedAll' THEN 'CompletedAll'
                 WHEN progress = 'Stalled' AND stalled_section IS DISTINCT FROM section THEN 'Stalled'
                 WHEN len(list_filter(['source-primary-or-secondary','exposure','outcome'],
                                      x -> NOT list_contains(done, x))) = 0 THEN 'CompletedAll'
                 ELSE 'InProgress' END AS after_state,
            CASE WHEN progress = 'CompletedAll' THEN len(completed) ELSE len(done) END AS done_n
          FROM st2)
        SELECT before_state, after_state, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(done_n) AS BIGINT) AS sections_done
        FROM res GROUP BY 1, 2 ORDER BY 1, 2"""),
      "M13 — per-section coding-progress machine: the CompleteSection fold with the " +
        "Set.difference completeness test as one codegen'd when-chain + array_except " +
        "(ref Library.fs:715-753, Sources.fs:198-202); one map stage + a 4-group agg at any scale"),

    Q("g29_bibtex_ingest",
      (s, d) => {
        import graft.sources.Ingest
        // render a deterministic BibTeX document from the customer table,
        // then run it through the S8 parser — the oracle recomputes the
        // expected parse output directly from the table, so the regex
        // extraction (multi-line records, braced + bare values) is what's
        // actually under test (ref Sources.fs:223-247)
        val c = TpchGraph.table(s, d, "customer").filter(col("c_custkey") % 17 === 0)
        val entry = concat(
          lit("@article{c"), col("c_custkey"),
          lit(",\n  author = {"), col("c_name"),
          lit("},\n  title = {Account "), col("c_custkey"), lit(": "), col("c_mktsegment"),
          lit("},\n  journal = {Journal of "), col("c_mktsegment"),
          lit("},\n  year = 19"), lpad((col("c_custkey") % 100).cast("string"), 2, "0"),
          lit(",\n  volume = {"), (col("c_custkey") % 40) + 1,
          lit("},\n  number = {"), col("c_nationkey"),
          lit("},\n  pages = {"), col("c_custkey") * 3, lit("--"), col("c_custkey") * 3 + 9,
          lit("},\n  month = {jan}\n}"))
        c.agg(concat_ws("\n", collect_list(entry)).as("raw"))
          .transform(Ingest.parseBibtexCol)
          .orderBy("citekey")
      },
      Some("""
        SELECT 'c' || c_custkey AS citekey,
               c_name AS author,
               'Account ' || c_custkey || ': ' || c_mktsegment AS title,
               'Journal of ' || c_mktsegment AS journal,
               CAST('19' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS INT) AS year,
               CAST(c_custkey % 40 + 1 AS VARCHAR) AS volume,
               CAST(c_nationkey AS VARCHAR) AS number,
               (c_custkey * 3) || '--' || (c_custkey * 3 + 9) AS pages,
               'jan' AS month
        FROM customer WHERE c_custkey % 17 = 0 ORDER BY citekey"""),
      "S8 — BibTeX ingest: record split + regexp field extraction round-trips a " +
        "rendered corpus (braced, bare, and multi-record forms; ref Sources.fs:223-247)"),

    Q("g30_datatable_ingest",
      (s, d) => {
        import graft.sources.Ingest
        // S12: wide digitised matrix → long (depth, morphotype, value).
        // Cell values are COUNTS (exact integers) so the unpivot is
        // tested without cross-engine float-summation fragility.
        val wide = TpchGraph.table(s, d, "orders")
          .groupBy((col("o_orderkey") % 20).as("depth"))
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("Betula"),
            count(when(col("o_orderstatus") === "O", 1)).as("Salix"),
            count(when(col("o_orderstatus") === "P", 1)).as("Pinus"))
        Ingest.dataTableLong(wide).orderBy("depth", "morphotype")
      },
      Some("""
        WITH wide AS (
          SELECT o_orderkey % 20 AS depth,
                 CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS betula,
                 CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS salix,
                 CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS DOUBLE) AS pinus
          FROM orders GROUP BY 1)
        SELECT CAST(depth AS DOUBLE) AS depth, morphotype, value FROM (
          SELECT depth, 'Betula' AS morphotype, betula AS value FROM wide
          UNION ALL SELECT depth, 'Salix', salix FROM wide
          UNION ALL SELECT depth, 'Pinus', pinus FROM wide)
        ORDER BY depth, morphotype"""),
      "S12 — digitised data-table unpivot to long format via native unpivot " +
        "(one narrow stage at any width; ref Datasets.fs:47-85)"),

    Q("g31_integrity_sweep",
      (s, d) => {
        import graft.core.{GraphIO, GraphState}
        import s.implicits._
        // S7: plant deterministic drift (every 5th nation's stored
        // prettyName gains a suffix), then sweep — recompute display
        // names map-side from the payload and report rows that differ
        // (ref Storage.fs:175-185). One narrow stage; nothing but the
        // drifted rows leaves the scan.
        val gr = TpchGraph.graph(s, d)
        val drifted = gr.nodes.toDF()
          .withColumn("prettyName",
            when(col("nodeType") === "nation" &&
              get_json_object(col("payload"), "$.n_nationkey").cast("int") % 5 === 3,
              concat(col("prettyName"), lit(" (stale)")))
              .otherwise(col("prettyName")))
        val recompute =
          when(col("nodeType") === "nation", get_json_object(col("payload"), "$.n_name"))
            .otherwise(col("prettyName"))
        GraphIO.staleIndexRows(GraphState(drifted.as[graft.model.NodeRow], gr.edges), recompute)
          .orderBy("key")
      },
      Some("""
        SELECT 'nation_' || n_nationkey AS key, 'nation' AS nodeType,
               n_name || ' (stale)' AS prettyName, n_name AS recomputed
        FROM nation WHERE n_nationkey % 5 = 3 ORDER BY key"""),
      "S7 — index integrity sweep: map-side display-name recompute + null-safe drift " +
        "filter (the reference's Array.Parallel scan as one narrow stage)"),

    Q("g32_colandr_ingest",
      (s, d) => {
        import graft.sources.Ingest
        import s.implicits._
        // S9: render a Colandr screening export (quoted CSV — the title
        // carries an embedded comma so the quote path is exercised) from
        // the customer table, parse it through Spark's real CSV reader,
        // then apply the included-only filter + projection. The oracle
        // recomputes the expected rows relationally, so what's under
        // test is the CSV round-trip + screening semantics
        // (ref Sources.fs:337-366)
        val c = TpchGraph.table(s, d, "customer").filter(col("c_custkey") % 11 === 0)
        val status = when(col("c_custkey") % 3 === 0, "included")
          .when(col("c_custkey") % 3 === 1, "excluded")
          .otherwise(lit("not_screened"))
        val line = concat(
          lit("\"Study "), col("c_custkey"), lit(": segment, "), col("c_mktsegment"),
          lit("\",\"Abstract for "), col("c_name"), lit("\","),
          col("c_name"), lit(","),
          lit("Journal of "), col("c_mktsegment"), lit(","),
          (col("c_custkey") % 40) + 1, lit(","),
          lit("19"), lpad((col("c_custkey") % 100).cast("string"), 2, "0"), lit(","),
          status)
        val parsed = s.read
          .schema("citation_title string, citation_abstract string, " +
            "citation_authors string, citation_journal_name string, " +
            "citation_journal_volume string, citation_pub_year string, " +
            "citation_screening_status string")
          .csv(c.select(line.as("value")).as[String])
        parsed.transform(Ingest.colandrIncluded).orderBy("title")
      },
      Some("""
        SELECT 'Study ' || c_custkey || ': segment, ' || c_mktsegment AS title,
               'Abstract for ' || c_name AS abstract,
               c_name AS authors,
               'Journal of ' || c_mktsegment AS journal,
               CAST(c_custkey % 40 + 1 AS VARCHAR) AS volume,
               CAST('19' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS INT) AS year
        FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 3 = 0
        ORDER BY title"""),
      "S9 — Colandr screening CSV sync: quoted-CSV parse + included-only filter and " +
        "projection (ref Sources.fs:337-366); scales as a plain distributed CSV scan"),

    Q("g33_depths_pivot",
      (s, d) => {
        import graft.sources.Ingest
        // A5 `DataTable.depths()`: the g30 wide fixture goes long via S12
        // then back to a per-depth morphotype map — pivot with a bounded
        // (morphotype-count) column set, one shuffle on depth
        val wide = TpchGraph.table(s, d, "orders")
          .groupBy((col("o_orderkey") % 20).as("depth"))
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("Betula"),
            count(when(col("o_orderstatus") === "O", 1)).as("Salix"),
            count(when(col("o_orderstatus") === "P", 1)).as("Pinus"))
        Ingest.depthsPivot(Ingest.dataTableLong(wide))
      },
      Some("""
        WITH wide AS (
          SELECT CAST(o_orderkey % 20 AS DOUBLE) AS depth,
                 CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS b,
                 CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS s,
                 CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS DOUBLE) AS p
          FROM orders GROUP BY 1)
        SELECT depth, b AS "Betula", p AS "Pinus", s AS "Salix"
        FROM wide ORDER BY depth"""),
      "A5 — DataTable.depths(): long-form table pivoted back to a per-depth " +
        "morphotype map (ref Datasets.fs:92-95); bounded pivot column set"),

    Q("g34_visualisation_elements",
      (s, d) => {
        import graft.sources.Visualisation
        // S13: the Cytoscape element rows for a typed subgraph (region +
        // nation nodes, InRegion edges) — the DataFrame half of the
        // visualisation export; the HTML render around it is a bounded
        // driver-side template (Visualisation.toHtml). A pure narrow
        // projection: to_json over structs, no shuffle at any scale.
        val gr = g(s, d)
        Visualisation.nodeElements(gr, Seq("region", "nation"))
          .unionByName(Visualisation.edgeElements(gr, Seq("InRegion")))
          .orderBy("element")
      },
      Some("""
        SELECT element FROM (
          SELECT '{"data":{"id":"region_' || r_regionkey || '","label":"' || r_name ||
                 '","group":"region"}}' AS element FROM region
          UNION ALL
          SELECT '{"data":{"id":"nation_' || n_nationkey || '","label":"' || n_name ||
                 '","group":"nation"}}' FROM nation
          UNION ALL
          SELECT '{"data":{"source":"nation_' || n_nationkey || '","target":"region_' ||
                 n_regionkey || '","label":"InRegion"}}' FROM nation)
        ORDER BY element"""),
      "S13 — visualisation export: Cytoscape node/edge element JSON for a typed " +
        "subgraph (ref Library.fs:7-32); narrow to_json projection, no shuffle"),

    Q("g24_degree_histogram",
      (s, d) => g(s, d).edges
        .filter(col("relType") === "PlacedBy")
        .groupBy(col("dst")).agg(count(lit(1)).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders"),
      Some("""
        SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers FROM (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1)
        GROUP BY 1 ORDER BY 1"""),
      "graph analytics — in-degree distribution (two cascaded hash aggregates, " +
        "both map-side combinable; the scale shape for degree/frequency histograms)"),

    Q("g35_stream_upsert",
      (s, d) => {
        import s.implicits._
        // three overlapping arrival waves through the streaming upsert
        // path (M2 idempotent insert per micro-batch): a key introduced
        // by an earlier wave must keep its original prettyName — the
        // store is append-only with a left-anti key guard, so re-arrivals
        // are skipped, replays converge
        val dir = graft.core.TempStores.scratchDir("graft_g35_store")
        val c = graft.sources.TpchGraph.table(s, d, "customer")
        def wave(k: Int, residues: Seq[Int]) = c
          .filter((col("c_custkey") % 4).isin(residues.map(Int.box): _*))
          .select(
            concat(lit("customer_"), col("c_custkey")).as("key"),
            lit("customer").as("nodeType"),
            concat(lit(s"w$k:"), col("c_name")).as("prettyName"),
            lit(null).cast("string").as("payload"))
          .as[graft.model.NodeRow]
        graft.streaming.GraphStream.upsertBatch(wave(0, Seq(0, 1)), dir.toString)
        graft.streaming.GraphStream.upsertBatch(wave(1, Seq(1, 2)), dir.toString)
        graft.streaming.GraphStream.upsertBatch(wave(2, Seq(2, 3)), dir.toString)
        graft.streaming.GraphStream.loadStore(s, dir.toString)
          .select(col("key"), col("prettyName")).orderBy("key")
      },
      Some("""
        WITH waves AS (
          SELECT 0 AS w, c_custkey AS k, c_name FROM customer WHERE c_custkey % 4 IN (0, 1)
          UNION ALL
          SELECT 1, c_custkey, c_name FROM customer WHERE c_custkey % 4 IN (1, 2)
          UNION ALL
          SELECT 2, c_custkey, c_name FROM customer WHERE c_custkey % 4 IN (2, 3)),
        first AS (
          SELECT k, c_name, min(w) AS w FROM waves GROUP BY k, c_name)
        SELECT 'customer_' || CAST(k AS VARCHAR) AS key,
               'w' || CAST(w AS VARCHAR) || ':' || c_name AS prettyName
        FROM first ORDER BY key"""),
      "§2.9/M2 — streaming graph upsert: three overlapping arrival waves through " +
        "the foreachBatch left-anti key guard; keep-first semantics replayed in SQL " +
        "as min(wave) per key — the idempotent-insert contract, oracled"),

    Q("g36_triangle_counts",
      (s, d) => {
        // co-purchase graph: parts are adjacent when some order contains
        // both. Edge generation is per-order quadratic but order size is
        // bounded (≤7 lineitems in TPC-H), so it stays linear in rows —
        // the same bounded-block shape as p55's per-block verify. The
        // canonical edge set is the process-cached standing artifact
        // shared by all six co-purchase analytics queries
        graft.plans.Triangles.countsFromList(TpchGraph.copurchaseEdges(s, d),
          TpchGraph.copurchaseTriangles(s, d))
      },
      Some(copurchaseCensusOracle),
      "graph analytics — exact triangle/wedge census of the part co-purchase " +
        "graph via the degree-ordered node-iterator (oriented out-degree O(sqrt m) " +
        "bounds the worst wedge key — no last-reducer hub blowup at 100 TB); the " +
        "oracle counts the same triangles by natural part-key ordering"),

    Q("g37_pagerank",
      (s, d) => {
        // order→customer→nation→region chain: 4 integer-exact iterations
        // push rank mass up the dimension hierarchy. Built from the
        // UNCACHED payload-free edge union (relType filter prunes it to
        // the three dimension scans, PlanAuditSpec) — depending on the
        // payload-bearing cached graph made the first run re-encode every
        // payload whenever memory pressure evicted the cache
        val e = TpchGraph.edges(s, d, withPayload = false).toDF()
          .filter(col("relType").isin("PlacedBy", "InNation", "InRegion"))
          .select(col("src"), col("dst"))
        graft.plans.PageRank.ranksScaled(e, iters = 4)
          .orderBy(desc("rank_scaled"), asc("key")).limit(10)
      },
      Some("""
        WITH e AS (
          SELECT 'order_' || CAST(o_orderkey AS VARCHAR) AS src,
                 'customer_' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
          UNION ALL
          SELECT 'customer_' || CAST(c_custkey AS VARCHAR),
                 'nation_' || CAST(c_nationkey AS VARCHAR) FROM customer
          UNION ALL
          SELECT 'supplier_' || CAST(s_suppkey AS VARCHAR),
                 'nation_' || CAST(s_nationkey AS VARCHAR) FROM supplier
          UNION ALL
          SELECT 'nation_' || CAST(n_nationkey AS VARCHAR),
                 'region_' || CAST(n_regionkey AS VARCHAR) FROM nation),
        v AS (SELECT DISTINCT src AS key FROM e UNION SELECT DISTINCT dst FROM e),
        od AS (SELECT src, count(*) AS d FROM (SELECT DISTINCT src, dst FROM e) GROUP BY 1),
        ed AS (SELECT DISTINCT src, dst FROM e),
        p0 AS (SELECT key, CAST(1000000 AS BIGINT) AS r FROM v),
        p1 AS (SELECT v.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p0 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p2 AS (SELECT v.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p1 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p3 AS (SELECT v.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p2 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p4 AS (SELECT v.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p3 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key))
        SELECT key, r AS rank_scaled FROM p4
        ORDER BY rank_scaled DESC, key LIMIT 10"""),
      "graph analytics — PageRank in exact scaled-integer arithmetic (floor " +
        "division, associative long sums), 4 fixed iterations over the " +
        "order→customer→nation→region chain; bit-identical across engines where " +
        "float PageRank is shuffle-order-dependent — top-10 by rank"),

    Q("g38_incremental_counts",
      (s, d) => {
        // materialized-view maintenance: per-nation customer counts kept
        // current across three arrival waves. Each refresh aggregates ONLY
        // the delta and merges it with the (tiny) stored view — wave-0
        // rows are never rescanned. At 100 TB this is the difference
        // between an O(delta) refresh and an O(corpus) recompute.
        val dir = graft.core.TempStores.scratchDir("graft_g38_mv").toString
        val c = TpchGraph.table(s, d, "customer")
        def waveCounts(w: Int) = c.filter(col("c_custkey") % 3 === w)
          .groupBy(col("c_nationkey").as("nation")).agg(count(lit(1)).as("n"))
        waveCounts(0).write.mode("overwrite").parquet(s"$dir/v0")
        Seq(1, 2).foreach { w =>
          s.read.parquet(s"$dir/v${w - 1}")
            .unionByName(waveCounts(w))
            .groupBy("nation").agg(sum(col("n")).as("n"))
            .write.mode("overwrite").parquet(s"$dir/v$w")
        }
        s.read.parquet(s"$dir/v2").orderBy("nation")
      },
      Some("""
        SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1 ORDER BY 1"""),
      "A2 incremental — materialized-aggregate maintenance: three delta waves " +
        "merged into a stored count view (union + re-aggregate of delta against " +
        "the view only); the final view equals the full recompute the oracle " +
        "performs — the O(delta)-refresh contract of incremental view maintenance"),

    Q("g39_label_propagation",
      (s, d) => {
        val e = TpchGraph.edges(s, d, withPayload = false).toDF()
          .filter(col("relType").isin("InNation", "InRegion"))
          .select(col("src").as("u"), col("dst").as("v"))
        graft.plans.LabelPropagation.run(e, iters = 3)
          .groupBy("label").agg(count(lit(1)).as("n"))
          .orderBy("label")
      },
      Some {
        def round(i: Int) =
          s"""l$i AS (
            SELECT key, label FROM (
              SELECT und.u AS key, l.label, count(*) AS n,
                     row_number() OVER (PARTITION BY und.u
                                        ORDER BY count(*) DESC, l.label) AS rn
              FROM und JOIN l${i - 1} l ON l.key = und.v
              GROUP BY und.u, l.label) WHERE rn = 1)"""
        s"""
        WITH e0 AS (
          SELECT 'customer_' || c_custkey AS u, 'nation_' || c_nationkey AS v FROM customer
          UNION ALL
          SELECT 'supplier_' || s_suppkey, 'nation_' || s_nationkey FROM supplier
          UNION ALL
          SELECT 'nation_' || n_nationkey, 'region_' || n_regionkey FROM nation),
        und AS (SELECT DISTINCT u, v
                FROM (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)),
        l0 AS (SELECT DISTINCT u AS key, u AS label FROM und),
        ${round(1)}, ${round(2)}, ${round(3)}
        SELECT label, CAST(count(*) AS BIGINT) AS n FROM l3
        GROUP BY 1 ORDER BY 1"""
      },
      "graph analytics — community detection by DETERMINISTIC synchronous label " +
        "propagation (most-frequent neighbor label, min-label ties, simultaneous " +
        "updates): a fixed round count is bit-identical on any engine, unlike " +
        "GraphX LPA's partition-order ties; 3 rounds over the dimension subgraph, " +
        "community sizes by label"),

    Q("g40_bucketed_traverse",
      (s, d) => {
        // the bucketed warehouse layout as an oracle-checked operator: save
        // nodes (bucketBy key) + edges (bucketBy src) once, then the
        // traversal join is bucket-co-located — ZERO exchange on either
        // side (the no-exchange plan is pinned by BucketedIOSpec; here the
        // RESULT is verified). At 100 TB this layout turns every key-equi
        // traversal into a local merge of pre-sorted buckets.
        // the layout is SAVE-ONCE by contract: build it the first time
        // this (session, dir) asks, reuse it afterwards — a different SF
        // or a new session rebuilds
        graft.core.SessionMemo(s, "g40_bucketed_layout", d) {
          val gr = GraphState(s,
            TpchGraph.nodes(s, d, withPayload = false).toDF(),
            TpchGraph.edges(s, d, withPayload = false).toDF())
          graft.core.GraphIO.saveBucketed(gr, buckets = 8, prefix = "graft_g40")
        }
        val nodes = s.table("graft_g40_nodes").filter(col("nodeType") === "customer")
        val edges = s.table("graft_g40_edges").filter(col("relType") === "InNation")
        edges.join(nodes, edges("src") === nodes("key"))
          .groupBy(col("dst")).agg(count(lit(1)).as("n_customers"))
          .orderBy("dst")
      },
      Some("""
        SELECT 'nation_' || c_nationkey AS dst, CAST(count(*) AS BIGINT) AS n_customers
        FROM customer GROUP BY 1 ORDER BY 1"""),
      "S5/J1 at scale — bucketed co-located traversal: nodes bucketBy(key), " +
        "edges bucketBy(src), 8 buckets each; the per-nation customer rollup " +
        "joins without a single Exchange (plan pinned in BucketedIOSpec) and " +
        "its result is oracle-verified here — the warehouse layout that makes " +
        "key-equi traversals shuffle-free"),

    Q("g41_typed_fold",
      (s, d) => {
        import s.implicits._
        import graft.core.TypedFolds
        // the typed Aggregator twin of g14: same payload staging (one
        // json_tuple parse), then the reference fold as an explicit
        // zero/reduce/merge monoid — reduce runs map-side, merge at the
        // reducer, the distribution contract of ref Library.fs:338-363
        val facts = TpchGraph.graph(s, d,
            encodeParallelism = Some(s.sparkContext.defaultParallelism))
          .nodesOfType("order").toDF()
          .select(json_tuple(col("payload"), "o_totalprice", "o_orderstatus")
            .as(Seq("tp", "st")))
          .select(col("tp").cast("double").as("totalprice"),
            col("st").as("orderstatus"))
          .as[TypedFolds.OrderFacts]
        facts.select(TypedFolds.orderStats.toColumn).toDF()
          .select("high_value", "n_f", "n_o", "n_p")
      },
      Some("""
        SELECT CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS high_value,
               CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders"""),
      "A1/§2.11 — the typed Aggregator[IN,BUF,OUT] form of the statistics fold " +
        "(ref Library.fs:338-363 one-to-one: zero/reduce/merge/finish); the " +
        "untyped sum(when) form (g14) is the codegen production path, this twin " +
        "pins the explicit-monoid contract Spark distributes — same oracle as g14"),

    Q("g42_schema_profile",
      (s, d) => {
        // the property graph's SCHEMA GRAPH: edge counts by
        // (srcType, relType, dstType) — what a catalog/optimizer consumes
        // for cardinality estimates and what integrity monitoring diffs
        // over time. Types join from the payload-free node set; both
        // dimension joins broadcast at any graph size where the TYPE
        // count (not node count) is what's bounded
        val nodes = TpchGraph.nodes(s, d, withPayload = false).toDF()
          .select(col("key"), col("nodeType"))
        val edges = TpchGraph.edges(s, d, withPayload = false).toDF()
          .select(col("src"), col("dst"), col("relType"))
        edges
          .join(nodes.withColumnsRenamed(Map("key" -> "src", "nodeType" -> "srcType")), "src")
          .join(nodes.withColumnsRenamed(Map("key" -> "dst", "nodeType" -> "dstType")), "dst")
          .groupBy("srcType", "relType", "dstType")
          .agg(count(lit(1)).as("n"))
          .orderBy("srcType", "relType", "dstType")
      },
      Some(s"""
        SELECT * FROM (
          SELECT 'customer' AS srcType, 'InNation' AS relType, 'nation' AS dstType,
                 CAST((SELECT count(*) FROM customer) AS BIGINT) AS n
          UNION ALL
          SELECT 'supplier', 'InNation', 'nation',
                 CAST((SELECT count(*) FROM supplier) AS BIGINT)
          UNION ALL
          SELECT 'nation', 'InRegion', 'region',
                 CAST((SELECT count(*) FROM nation) AS BIGINT)
          UNION ALL
          SELECT 'order', 'PlacedBy', 'customer',
                 CAST((SELECT count(*) FROM orders) AS BIGINT)
          UNION ALL
          SELECT 'lineitem', 'PartOf', 'order',
                 CAST((SELECT count(*) FROM $liSql) AS BIGINT)
          UNION ALL
          SELECT 'lineitem', 'OfPart', 'part',
                 CAST((SELECT count(*) FROM $liSql) AS BIGINT)
          UNION ALL
          SELECT 'lineitem', 'SuppliedBy', 'supplier',
                 CAST((SELECT count(*) FROM $liSql) AS BIGINT))
        ORDER BY srcType, relType, dstType"""),
      "graph profiling — the schema graph: edge counts by (srcType, relType, " +
        "dstType), the triple summary catalogs/optimizers consume for " +
        "cardinality estimates; endpoint types join from the payload-free node " +
        "set, counts verified against the per-table construction identities"),

    Q("g43_graphx_triangles",
      (s, d) => {
        graft.plans.GraphAnalytics.triangleCounts(
          TpchGraph.copurchaseEdges(s, d))
      },
      // same census oracle as g36 plus the sampling-state columns: the
      // co-purchase graph is under the 2M-edge bound at every gate SF, so
      // the exact branch must report sampled=0 and input==kept edges
      Some(s"""SELECT n_edges AS n_edges_input, CAST(0 AS INT) AS sampled, *
        FROM ($copurchaseCensusOracle) t"""),
      "graph analytics — GraphX twin of g36 (TriangleCount neighbor-set " +
        "intersection), same census contract and oracle: the g18/g23 GraphX-vs-" +
        "DataFrame cross-validation pattern applied to triangles; the DataFrame " +
        "form remains the whole-graph scale path"),

    Q("g44_optional_motif",
      (s, d) => {
        // Cypher OPTIONAL MATCH through the motif compiler: customers
        // with their nation, orders attached if any — absence keeps the
        // customer row with a null order. One left join in the same
        // distributed plan; the per-nation rollup counts idle customers
        // (a row-dropping inner motif could not express this)
        // the (c:customer) type ascription excludes suppliers' InNation
        // edges inside the term's own plan (semi-join on typed keys)
        val m = Motif.find(g(s, d),
          "(c:customer)-[:InNation]->(n); ?(o)-[:PlacedBy]->(c)")
        m.groupBy(col("n.prettyName").as("n_name"))
          .agg(countDistinct(col("c.key")).as("n_customers"),
            count(col("o.key")).as("n_orders"),
            countDistinct(when(col("o.key").isNull, col("c.key")))
              .as("n_idle_customers"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT CASE WHEN o_orderkey IS NULL
                          THEN c_custkey END) AS BIGINT) AS n_idle_customers
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1 ORDER BY 1"""),
      "J6 extension — OPTIONAL motif terms (Cypher OPTIONAL MATCH): " +
        "`?(o)-[:PlacedBy]->(c)` left-joins order matches onto the " +
        "positive pattern, nulls where absent, so one declarative pattern " +
        "answers has/has-not questions (idle customers per nation) that " +
        "inner motifs drop and negated motifs can only answer one side of"),

    Q("g45_varlength_motif",
      (s, d) => {
        // Cypher variable-length path through the motif compiler, over
        // the seeded time index's Next chain (the reference's §2.5
        // sequence relation): every year reachable in 1..3 forward
        // steps from a 10-year probe window. Distinct endpoint pairs —
        // reachability, not path enumeration — compiled to a union of
        // k-hop equi-join chains; the probe filter pushes into the
        // first hop's scan like any other predicate
        val gr = graft.core.Seed.seedGraph(s, withNextEdges = true)
        val probe = (100 to 109).map(y => s"calyearnode_${y}ybp")
        Motif.find(gr, "(a)-[:Next*1..3]->(b)")
          .filter(col("a.key").isin(probe: _*))
          .select(col("a.key").as("a_key"), col("b.key").as("b_key"))
          .orderBy("a_key", "b_key")
      },
      Some("""
        SELECT 'calyearnode_' || y || 'ybp' AS a_key,
               'calyearnode_' || (y - k) || 'ybp' AS b_key
        FROM generate_series(100, 109) s(y)
        CROSS JOIN generate_series(1, 3) t(k)
        ORDER BY a_key, b_key"""),
      "J6 extension — VARIABLE-LENGTH motif paths (Cypher `*lo..hi`): " +
        "`(a)-[:Next*1..3]->(b)` matches distinct endpoint pairs joined " +
        "by a 1..3-hop Next chain over the seeded year index — " +
        "reachability semantics (endpoint pairs stay bounded where path " +
        "enumeration explodes), compiled to a union of k-hop equi-join " +
        "chains that Catalyst plans like any other joins"),

    Q("g46_undirected_motif",
      (s, d) => {
        // direction-agnostic neighborhood: every InNation neighbor of a
        // nation regardless of stored orientation (InNation edges point
        // INTO nations, so only the reversed copy matches — the pattern
        // does not need to know that)
        val m = Motif.find(g(s, d), "(n:nation)-[:InNation]-(m)")
        m.groupBy(col("n.prettyName").as("n_name"))
          .agg(count(lit(1)).as("n_neighbors"),
            countDistinct(col("m.nodeType")).as("n_types"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_neighbors,
               CAST(count(DISTINCT t) AS BIGINT) AS n_types
        FROM (SELECT n_name, 'customer' AS t
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT n_name, 'supplier'
              FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        GROUP BY 1 ORDER BY 1"""),
      "J6 extension — UNDIRECTED motif terms (Cypher's direction-agnostic " +
        "relationship): `(n:nation)-[:InNation]-(m)` matches either stored " +
        "orientation via a pre-join union of both directions, so a " +
        "neighborhood query needs no knowledge of edge polarity; counts " +
        "per nation cover customers and suppliers in one pattern"),

    Q("g47_endpoint_constraints",
      (s, d) => {
        // the reference's DISABLED relation endpoint-type constraint table
        // (Graph.fs:648-656, "TODO re-enable constraints"), enabled: declare
        // InNation as customer->nation only — every supplier InNation edge
        // is then a violation; InRegion/PlacedBy declarations are satisfied
        // and contribute nothing
        g(s, d).constraintViolations(Map(
            "InNation" -> ("customer", "nation"),
            "InRegion" -> ("nation", "region"),
            "PlacedBy" -> ("order", "customer")))
          .groupBy("relType", "src_type")
          .agg(count(lit(1)).as("n_violations"))
          .orderBy("relType", "src_type")
      },
      Some("""
        SELECT 'InNation' AS relType, 'supplier' AS src_type,
               CAST(count(*) AS BIGINT) AS n_violations
        FROM supplier"""),
      "J10 extension — the reference's declared-but-disabled relation " +
        "endpoint-type constraint table, enforced distributively: the " +
        "broadcast table joins each endpoint's actual nodeType and " +
        "surfaces disagreeing edges; absent relTypes stay unconstrained " +
        "(the reference's effective open-world behavior)"),

    Q("g48_form_payloads",
      (s, d) => {
        // the reference's dynamic-form surface (Create.createFromViewModel,
        // Forms.fs:78-188) run DISTRIBUTED: every supplier row becomes a
        // ContextNode view model (field map + nested DU cases), flows
        // through the schema-driven Forms constructor (Fields TryCreate
        // validators inside), and either renders the persisted
        // compact-union payload or reports the reference's error string
        // (the latitude grid plants out-of-range rows). Map-side only —
        // narrow scan, per-row ADT interpretation, zero shuffles before
        // the output sort — so the form pipeline scales like any other
        // row transform.
        import s.implicits._
        import graft.model.Forms
        import graft.model.Forms._
        import graft.model.Forms.SimpleValue._
        s.read.parquet(s"$d/supplier.parquet")
          .select(col("s_suppkey").cast("long").as("k"),
            col("s_name").as("name"), col("s_nationkey").cast("long").as("nk"))
          .as[(Long, String, Long)]
          .map { case (k, name, nk) =>
            val lat = (k % 200) - 99.5
            val lon = (k * 7 % 360) - 179.5
            val loc = ((k % 3).toInt: @unchecked) match {
              case 0 => Du("Site", FieldMap(Map(
                "latitude" -> Value(Num(lat)),
                "longitude" -> Value(Num(lon)))))
              case 1 => Du("Country", FieldMap(Map(
                "country" -> Value(Txt(s"Nation#$nk")))))
              case 2 => Du("Arctic", NotEnteredYet)
            }
            val origin = ((k % 4).toInt: @unchecked) match {
              case 0 => Du("LakeSediment", Du("DepthRange", FieldMap(Map(
                "lower" -> Value(Num((k % 10) + 0.5)),
                "upper" -> Value(Num((k % 10) + 10.5))))))
              case 1 => Du("LakeSediment", Du("DepthRangeNotStated", NotEnteredYet))
              case 2 => Du("Subfossil", NotEnteredYet)
              case 3 => Du("OtherOrigin", FieldMap(Map(
                "origin" -> Value(Txt("shell midden")),
                "depths" -> Du("None", NotEnteredYet))))
            }
            val desc =
              if (k % 2 == 0) Du("Some", Value(Txt(s"Plot near nation $nk")))
              else Du("None", NotEnteredYet)
            val vm = FieldMap(Map(
              "Name" -> Value(Txt(name)),
              "SamplingLocation" -> loc,
              "SampleOrigin" -> origin,
              "SampleLocationDescription" -> desc))
            Forms.createFromViewModel(Forms.contextNode, vm) match {
              case Right(j) => (k, true, j.render)
              case Left(e)  => (k, false, e)
            }
          }.toDF("supp_key", "ok", "result")
          .orderBy("supp_key")
      },
      Some("""
        WITH s AS (
          SELECT CAST(s_suppkey AS BIGINT) AS k, s_name AS name,
                 CAST(s_nationkey AS BIGINT) AS nk
          FROM supplier),
        c AS (SELECT k, name, nk,
                 (k % 200) - 99.5 AS lat,
                 (k * 7 % 360) - 179.5 AS lon,
                 (k % 10) + 0.5 AS dlo, (k % 10) + 10.5 AS dhi
              FROM s)
        SELECT k AS supp_key,
          NOT (k % 3 = 0 AND (lat < -89.9 OR lat > 89.9)) AS ok,
          CASE WHEN k % 3 = 0 AND (lat < -89.9 OR lat > 89.9)
               THEN 'Latitude must be between -90 and 90 degrees'
               ELSE '{"Name":"' || name || '","SamplingLocation":' ||
                 CASE WHEN k % 3 = 0 THEN '{"Site":[' || CAST(lat AS VARCHAR)
                        || ',' || CAST(lon AS VARCHAR) || ']}'
                      WHEN k % 3 = 1 THEN '{"Country":"Nation#' || CAST(nk AS VARCHAR) || '"}'
                      ELSE '"Arctic"' END ||
                 ',"SampleOrigin":' ||
                 CASE WHEN k % 4 = 0 THEN '{"LakeSediment":{"DepthRange":['
                        || CAST(dlo AS VARCHAR) || ',' || CAST(dhi AS VARCHAR) || ']}}'
                      WHEN k % 4 = 1 THEN '{"LakeSediment":"DepthRangeNotStated"}'
                      WHEN k % 4 = 2 THEN '"Subfossil"'
                      ELSE '{"OtherOrigin":["shell midden",null]}' END ||
                 CASE WHEN k % 2 = 0
                      THEN ',"SampleLocationDescription":"Plot near nation '
                        || CAST(nk AS VARCHAR) || '"'
                      ELSE '' END ||
                 '}'
          END AS result
        FROM c ORDER BY supp_key"""),
      "§2.11 closure — Create.createFromViewModel (Forms.fs:78-188) as a " +
        "first-class distributed operator: schema-driven DU/record/option/" +
        "list construction with TryCreate validation (Fields) emitting the " +
        "compact-union payload JSON (Payloads conventions); the oracle " +
        "rebuilds every payload and error string in pure SQL"),

    Q("g49_atom_roundtrip",
      (s, d) => {
        import graft.sources.AtomFiles
        // S5 as an END-TO-END oracled query: the region+nation+supplier
        // dimension subgraph (integer/text/double payloads — formats the
        // file layout stores losslessly) renders to the reference's
        // file-per-atom layout via the DISTRIBUTED writer, reloads
        // through the atom parser, and emits every node with its payload
        // and a canonical out-edge digest. The oracle rebuilds the exact
        // to_json payload bytes and adjacency from the parquet tables —
        // any drift in render, parse, key codec, or edge grouping breaks
        // the hash.
        val nodes = TpchGraph.nodes(s, d)
          .filter(col("nodeType").isin("region", "nation", "supplier"))
        val edges = TpchGraph.edges(s, d)
          .filter(col("relType") === "InRegion" ||
            (col("relType") === "InNation" && col("src").startsWith("supplier_")))
        val dir = new java.io.File(
          s"/tmp/graft_atoms_${Integer.toHexString((d + "#g49").hashCode)}")
        // a stale directory from an earlier testdata generation must not
        // leak extra atoms into the reload
        if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
        AtomFiles.saveDistributed(GraphState(nodes, edges), dir.getAbsolutePath)
        val re = AtomFiles.load(s, dir.getAbsolutePath)
        val outs = re.edges.groupBy(col("src"))
          .agg(count(lit(1)).cast("bigint").as("n_out"),
            array_join(sort_array(collect_list(
              concat_ws("|", col("dst"), col("relType"), col("weight")))), ";")
              .as("out_edges"))
        re.nodes.select(col("key"), col("nodeType"), col("payload"))
          .join(outs, col("key") === col("src"), "left")
          .select(col("key"), col("nodeType"), col("payload"),
            coalesce(col("n_out"), lit(0L)).as("n_out"),
            coalesce(col("out_edges"), lit("")).as("out_edges"))
          .orderBy("key")
      },
      Some("""
        WITH a AS (
          SELECT 'nation_'||n_nationkey AS key, 'nation' AS nodeType,
            '{"n_nationkey":'||n_nationkey||',"n_name":"'||n_name
              ||'","n_regionkey":'||n_regionkey||'}' AS payload,
            CAST(1 AS BIGINT) AS n_out,
            'region_'||n_regionkey||'|InRegion|1' AS out_edges
          FROM nation
          UNION ALL
          SELECT 'region_'||r_regionkey, 'region',
            '{"r_regionkey":'||r_regionkey||',"r_name":"'||r_name||'"}',
            CAST(0 AS BIGINT), ''
          FROM region
          UNION ALL
          SELECT 'supplier_'||s_suppkey, 'supplier',
            '{"s_suppkey":'||s_suppkey||',"s_name":"'||s_name
              ||'","s_nationkey":'||s_nationkey
              ||',"s_acctbal":'||CAST(s_acctbal AS VARCHAR)||'}',
            CAST(1 AS BIGINT),
            'nation_'||s_nationkey||'|InNation|1'
          FROM supplier)
        SELECT * FROM a ORDER BY key"""),
      "S5 round-trip closure — atom-file save (distributed cogroup " +
        "writer, new) -> load -> canonical digest, hash-compared against " +
        "the parquet-derived truth incl. exact payload JSON bytes"),

    Q("g50_personalized_pagerank",
      (s, d) => {
        // PERSONALIZED PageRank: the dimension chain REVERSED
        // (region→nation→customer/supplier→order) with the teleport
        // pinned to the region nodes, so rank measures proximity to the
        // seed set — the seeded-relevance primitive (recommendations
        // from a root set, taxonomy-rooted importance) rather than g37's
        // global centrality. Same exact scaled-integer recurrence and
        // per-round plan shape as g37; the seed restart is a map-side
        // CASE on the key, no extra join in the iteration. Unreached
        // vertices carry exactly 0 and are dropped.
        val e = TpchGraph.edges(s, d, withPayload = false).toDF()
          .filter(col("relType").isin("PlacedBy", "InNation", "InRegion"))
          .select(col("dst").as("src"), col("src").as("dst"))
        graft.plans.PageRank.personalizedScaled(
            e, col("key").startsWith("region_"), iters = 4)
          .filter(col("rank_scaled") > 0)
          .orderBy(desc("rank_scaled"), asc("key")).limit(15)
      },
      Some("""
        WITH e AS (
          SELECT 'customer_' || CAST(o_custkey AS VARCHAR) AS src,
                 'order_' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
          UNION ALL
          SELECT 'nation_' || CAST(c_nationkey AS VARCHAR),
                 'customer_' || CAST(c_custkey AS VARCHAR) FROM customer
          UNION ALL
          SELECT 'nation_' || CAST(s_nationkey AS VARCHAR),
                 'supplier_' || CAST(s_suppkey AS VARCHAR) FROM supplier
          UNION ALL
          SELECT 'region_' || CAST(n_regionkey AS VARCHAR),
                 'nation_' || CAST(n_nationkey AS VARCHAR) FROM nation),
        v AS (SELECT DISTINCT src AS key FROM e UNION SELECT DISTINCT dst FROM e),
        od AS (SELECT src, count(*) AS d FROM (SELECT DISTINCT src, dst FROM e) GROUP BY 1),
        ed AS (SELECT DISTINCT src, dst FROM e),
        p0 AS (SELECT key, CAST(CASE WHEN key LIKE 'region_%' THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM v),
        p1 AS (SELECT v.key, CAST(CASE WHEN v.key LIKE 'region_%' THEN 150000 ELSE 0 END
                 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p0 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p2 AS (SELECT v.key, CAST(CASE WHEN v.key LIKE 'region_%' THEN 150000 ELSE 0 END
                 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p1 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p3 AS (SELECT v.key, CAST(CASE WHEN v.key LIKE 'region_%' THEN 150000 ELSE 0 END
                 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p2 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p4 AS (SELECT v.key, CAST(CASE WHEN v.key LIKE 'region_%' THEN 150000 ELSE 0 END
                 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM v LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r // od.d) AS inc
                 FROM ed JOIN p3 p ON p.key = ed.src JOIN od ON od.src = ed.src
                 GROUP BY ed.dst) s USING (key))
        SELECT key, r AS rank_scaled FROM p4 WHERE r > 0
        ORDER BY rank_scaled DESC, key LIMIT 15"""),
      "graph analytics — PERSONALIZED PageRank (teleport restricted to a " +
        "seed set, here the region nodes over the reversed dimension " +
        "chain): proximity-to-seeds relevance in the same exact " +
        "scaled-integer arithmetic as g37, bit-identical across engines; " +
        "the seeded-recommendation / taxonomy-rooted-importance primitive"),

    Q("g51_kcore",
      (s, d) => {
        // k-core decomposition of the g36 co-purchase graph by iterative
        // peeling (KCore.peel): drop every part whose co-purchase degree
        // is below k=80 and repeat — peripheral parts cascade out layer
        // by layer (their removal drags neighbors below the bar), the
        // dense core survives. Integer-exact, so the converged Spark
        // answer equals the oracle's fixed 10-round unroll verbatim
        // (post-convergence rounds are no-ops). k=80 sits in the peel
        // band of this graph: at sf0.001 the whole graph cascades to
        // empty in 4 rounds; at sf0.01/sf0.1 a large core survives 6
        // rounds of peeling — both behaviors oracle-checked.
        graft.plans.KCore.peel(TpchGraph.copurchaseEdges(s, d),
            k = 80, maxRounds = KcoreRounds)
          .select(col("key").as("part"), col("peel_round"), col("core_deg"))
          .orderBy("part")
      },
      Some(kcoreOracle(k = 80, rounds = KcoreRounds)),
      "graph analytics — k-core decomposition (iterative peeling) of the " +
        "part co-purchase graph: per-part peel round (coreness layer; 0 = " +
        "in-core) and within-core degree. Each round is one degree " +
        "aggregate + two endpoint semi-joins over a shrinking edge set, " +
        "lineage cut per round — the graph-cleanup / community-seed " +
        "primitive, exact-integer so the converged answer matches the " +
        "oracle's fixed-depth unroll bit for bit"),

    Q("g52_hits",
      (s, d) => {
        // HITS over the same dimension chain as g37: orders are pure
        // hubs, regions pure authorities, nations both — the mutual-
        // reinforcement ranking where PageRank measures flow centrality.
        // Max-normalized integer form (L∞ power iteration): exact on any
        // engine where the L2 norm's square root is not. 4 fixed rounds,
        // top-15 authorities with their hub scores alongside.
        val e = TpchGraph.edges(s, d, withPayload = false).toDF()
          .filter(col("relType").isin("PlacedBy", "InNation", "InRegion"))
          .select(col("src"), col("dst"))
        graft.plans.Hits.scaled(e, iters = 4)
          .orderBy(desc("auth_scaled"), desc("hub_scaled"), asc("key"))
          .limit(15)
      },
      Some(hitsOracle(iters = 4)),
      "graph analytics — HITS hubs & authorities (Kleinberg) in exact " +
        "scaled-integer arithmetic with per-half-round max " +
        "normalization: the scalar-per-round iterative shape (single-row " +
        "max broadcast back via crossJoin) that PageRank's pure per-edge " +
        "recurrence avoids; 4 fixed rounds over the dimension chain, " +
        "bit-identical across engines, top-15 by authority"),

    Q("g53_densest_subgraph",
      (s, d) => {
        // Bahmani et al. batched densest-subgraph peel over the co-
        // purchase graph (ε = 1/10): every round strips all vertices at
        // or below 2(1+ε)·density — a constant FRACTION of survivors, so
        // O(log n) rounds where Charikar's one-vertex-per-step peel is
        // inherently serial. Output is the full peel trajectory (3–8
        // non-empty rounds on the gate corpora), each round pinned by
        // exact n/m/floor-density and a key-sum membership checksum;
        // is_best marks the density-maximizing round the approximation
        // guarantee speaks about.
        graft.plans.DensestSubgraph.peelSummary(TpchGraph.copurchaseEdges(s, d),
            epsNum = 1L, epsDen = 10L, maxRounds = DensestRounds)
          .orderBy("round")
      },
      Some(densestOracle(rounds = DensestRounds)),
      "graph analytics — densest-subgraph 2(1+ε)-approximation by " +
        "BATCHED peeling (Bahmani–Kumar–Vassilvitskii, the canonical " +
        "MapReduce graph algorithm): O(log n) rounds of one degree " +
        "aggregate + two endpoint semi-joins on a shrinking edge set, " +
        "with the threshold scalar (the only driver-side state) entering " +
        "each round as a literal; exact cross-multiplied integer test, " +
        "trajectory checksummed per round"),

    Q("g54_random_walks",
      (s, d) => {
        // graph → training-corpus export: 2 deterministic 4-step walks
        // from every 20th part over the undirected co-purchase graph —
        // the DeepWalk corpus a node-embedding model trains on. The
        // next hop hashes (start, walk, step, cur) mod degree instead
        // of rand(): reproducible under stage retry and bit-equal to
        // the oracle's unrolled recurrence
        // mirror the cached canonical (p < p2) half — the union is
        // distinct by construction, so walks() skips its own dedup
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val starts = e.select(col("u").as("start"))
          .filter(col("start") % 20 === 0).distinct()
        graft.plans.RandomWalks.walks(e, starts, walksPerStart = 2, steps = 4,
            edgesAreDistinct = true)
          .orderBy("start", "walk")
      },
      Some(randomWalksOracle(steps = 4)),
      "graph analytics — deterministic random walks (the DeepWalk / " +
        "node2vec corpus generator, Perozzi et al. 2014): graph " +
        "structure exported as node sequences for embedding training. " +
        "Next hop = hash(start, walk, step, cur) mod out-degree over " +
        "rank-sorted neighbors — a pure function, so walks survive " +
        "stage retries and hash-verify cross-engine where rand() walks " +
        "cannot; ranked adjacency builds once (one u-partitioned " +
        "shuffle, localCheckpoint-ed), each step is one frontier " +
        "equi-join with a degree-bounded rank test, never quadratic"),

    Q("g55_node_features",
      (s, d) => {
        // per-node structural features over the co-purchase graph — the
        // GNN / node-classification feature block: degree, triangle
        // participation, local clustering coefficient (exact integer
        // permille). The node-level companion of g36's global census
        graft.plans.Triangles.perNodeCountsFromList(
          TpchGraph.copurchaseEdges(s, d), TpchGraph.copurchaseTriangles(s, d))
          .withColumnRenamed("x", "part")
          .orderBy("part")
      },
      Some(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        deg AS (SELECT x, count(*) AS d
                FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        tr AS (SELECT unnest([e1.u, e1.v, e2.v]) AS x
               FROM e e1 JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
                         JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        tc AS (SELECT x, count(*) AS tri FROM tr GROUP BY x)
        SELECT deg.x AS part, CAST(d AS BIGINT) AS degree,
               CAST(coalesce(tri, 0) AS BIGINT) AS n_triangles,
               CAST(CASE WHEN d >= 2 THEN 2000 * coalesce(tri, 0) // (d * (d - 1))
                         ELSE 0 END AS BIGINT) AS cc_permille
        FROM deg LEFT JOIN tc USING (x) ORDER BY part"""),
      "graph analytics — per-node structural features (the GNN training " +
        "feature block): degree, triangle participation, local " +
        "clustering coefficient as exact integer permille. Triangles " +
        "attribute to all three corners via a fixed 3-row explode off " +
        "the degree-ordered apex join, so the skew bound stays the " +
        "census's O(sqrt m) oriented out-degree — the node-level export " +
        "that pairs with g54's walk corpus for graph representation " +
        "learning"),

    Q("g56_closeness",
      (s, d) => {
        // truncated closeness from every 100th part over the undirected
        // co-purchase graph: one multi-source BFS, all seeds in a single
        // (seed, node)-keyed frontier. Radius 3 — past it this dense
        // graph is fully explored and rounds are no-ops
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        // FIXED seed sample (Eppstein–Wang posture: seed count is a
        // function of desired accuracy, NOT graph size) — the key-range
        // cap keeps S constant across scale factors, so cost is O(S·V),
        // linear in the graph (an SF-proportional seed set would make
        // the S·V frontier product grow quadratically with scale)
        val starts = e.select(col("u").as("start"))
          .filter(col("start") % 100 === 0 && col("start") <= 2000).distinct()
        graft.plans.MultiSourceBfs.truncatedCloseness(e, starts, maxDepth = 3)
          .orderBy("start")
      },
      Some(closenessOracle(depth = 3)),
      "graph analytics — truncated closeness centrality (exact " +
        "integer sum of shortest-path distances within radius 3, plus " +
        "reach count and eccentricity) by MULTI-SOURCE BFS: all seeds " +
        "advance in one (seed, node)-keyed frontier, so S seeds cost " +
        "one BFS bounded by S*V rows, not S passes; each round is a " +
        "frontier equi-join + distinct + left-anti against the visited " +
        "set, lineage cut per round, and a drained frontier " +
        "short-circuits the loop. Integer-exact where harmonic " +
        "centrality's fractions are not — oracle is the fixed-depth " +
        "unrolled visited-set recurrence"),

    Q("g57_weighted_sssp",
      (s, d) => {
        // weighted shortest paths over the co-purchase graph where
        // frequently co-purchased links are CHEAP (w = max(1, 6 −
        // shared-order count)) — 'how related are these parts through
        // strong links'. Fixed seed sample (the g56 rule), 4 rounds
        // the (u, v, cnt) aggregate IS the standing weighted co-purchase
        // artifact the partitioning family shares — derive the cost
        // transform from the memo instead of re-running the self-join
        val half = TpchGraph.weightedCopurchaseEdges(s, d)
          .select(col("u"), col("v"),
            greatest(lit(1L), lit(6L) - col("w")).as("w"))
        val e = half.unionByName(
          half.select(col("v").as("u"), col("u").as("v"), col("w")))
        val starts = e.select(col("u").as("start"))
          .filter(col("start") % 500 === 0 && col("start") <= 2000).distinct()
        graft.plans.Sssp.bounded(e, starts, rounds = 4)
          .groupBy("start")
          .agg(count(lit(1)).as("n_reached"),
            sum("dist").cast("long").as("sum_dist"),
            max("dist").cast("long").as("max_dist"),
            sum(col("node") * col("dist")).cast("long").as("dist_checksum"))
          .orderBy("start")
      },
      Some(ssspOracle(rounds = 4)),
      "graph analytics — bounded-round weighted SSSP (multi-source " +
        "Bellman-Ford in DELTA form: only improved labels relax, so " +
        "converged regions stop costing — full-relax re-scans every " +
        "label every round): min-cost paths where strong co-purchase " +
        "links are cheap, within 4 hops. Per round one frontier hash " +
        "join + one map-side-combined min aggregate; exact integer " +
        "weights/distances; summary pins the full label table via an " +
        "integer checksum; oracle is the full-relax unroll, which " +
        "provably agrees with the delta form round for round"),

    Q("g58_purchase_transitions",
      (s, d) =>
        // next-purchase transition counts — the SEQUENTIAL pattern
        // export (what do customers buy next): the count table a
        // sequential recommender / next-item model trains on, read off
        // the process-cached transition edge set (per-customer window +
        // two order-bounded joins, run once per session; g64 shares it)
        TpchGraph.transitionEdges(s, d)
          .select(col("src").as("from_part"), col("dst").as("to_part"),
            col("n_transitions"))
          .orderBy(col("n_transitions").desc, col("from_part"), col("to_part"))
          .limit(30),
      Some(s"""
        WITH o AS (SELECT o_custkey AS c, o_orderkey AS k, o_orderdate AS dt
                   FROM orders),
        nx AS (SELECT k, lead(k) OVER (PARTITION BY c ORDER BY dt, k) AS k2 FROM o),
        li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        t AS (SELECT a.p AS from_part, b.p AS to_part
              FROM nx JOIN li a ON a.k = nx.k
                      JOIN li b ON b.k = nx.k2
              WHERE nx.k2 IS NOT NULL)
        SELECT from_part, to_part, CAST(count(*) AS BIGINT) AS n_transitions
        FROM t GROUP BY 1, 2
        ORDER BY n_transitions DESC, from_part, to_part LIMIT 30"""),
      "graph analytics — next-purchase TRANSITION counts (the " +
        "sequential-pattern export a next-item recommender trains on; " +
        "the temporal, directed counterpart of the co-purchase graph): " +
        "per customer, consecutive order pairs contribute their " +
        "part-then-part cross. One per-customer window (lead), two " +
        "order-bounded joins (≤7 parts per TPC-H order keeps the cross " +
        "linear in order count), map-side-combined counts, TakeOrdered " +
        "top-30"),

    Q("g59_ktruss",
      (s, d) => graft.plans.KTruss.peelSummary(
          TpchGraph.copurchaseEdges(s, d), k = 4, maxRounds = 3,
          tri0 = Some(TpchGraph.copurchaseTriangles(s, d)))
        .orderBy("round"),
      Some(ktrussOracle(k = 4, rounds = 3)),
      "graph analytics — k-truss peel (k = 4) of the co-purchase graph: " +
        "the EDGE-cohesion refinement of g51's k-core — keep only edges " +
        "in ≥ 2 triangles among survivors, to a fixpoint. Per round the " +
        "support recomputes with the census's degree-ordered apex join " +
        "(O(sqrt m) oriented out-degree bounds every wedge reducer) and " +
        "each triangle attributes to its 3 canonical edges via a fixed " +
        "explode; trajectory rows (round, n_edges, sum_support) are " +
        "exact integers, converged rounds repeat the fixpoint so the " +
        "fixed-depth oracle unroll matches the early-exiting loop"),

    Q("g60_approx_triangles",
      (s, d) => graft.plans.Triangles.approxCounts(
        TpchGraph.copurchaseEdges(s, d), p = 0.5),
      Some(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        e AS (SELECT u, v FROM e0
              WHERE ('0x' || substring(md5('doulion:' || CAST(u AS VARCHAR)
                       || '_' || CAST(v AS VARCHAR)), 1, 7))::BIGINT
                    / 268435456.0 < 0.5),
        tri AS (SELECT count(*) AS t
                FROM e e1 JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
                          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges_sampled,
               CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles_sampled,
               CAST(round((SELECT t FROM tri) / 0.125, 0) AS BIGINT) AS est_triangles"""),
      "graph analytics — DOULION approximate triangle census of the " +
        "co-purchase graph (edge-sample at p = 1/2 with a DETERMINISTIC " +
        "md5-threshold coin, exact degree-ordered census on the " +
        "sparsified graph, scale by 1/p³). The scale answer to g36's " +
        "super-linear growth (measured 2.6× per data doubling at " +
        "sf2.0): wedge mass drops by p², the estimate is unbiased with " +
        "error O(1/√(p³·T)), and the dyadic p makes the 8× scale-up " +
        "float-exact — so the DuckDB oracle replays sample and estimate " +
        "bit for bit"),

    Q("g61_luby_mis",
      (s, d) => graft.plans.Mis.trajectory(
        TpchGraph.copurchaseEdges(s, d), maxRounds = 3),
      Some(misOracle(rounds = 3)),
      "graph analytics — Luby maximal-independent-set rounds on the " +
        "co-purchase graph: the distributed symmetry-breaking primitive " +
        "(parallel greedy coloring, conflict-free updates, landmark " +
        "selection). Per round each active vertex compares a " +
        "DETERMINISTIC packed priority (28-bit md5 hash · 2³¹ + id — " +
        "integer-total order, plain min() is the neighborhood " +
        "comparison) against its active neighbors' minimum; winners " +
        "select, closed neighborhoods retire, the active edge set " +
        "halves in expectation per round. Trajectory rows (round, " +
        "n_selected, n_remaining) are exact integers; converged rounds " +
        "repeat the fixpoint so the fixed-depth oracle unroll matches " +
        "the early-exiting loop"),

    Q("g62_maximal_matching",
      (s, d) => graft.plans.Matching.trajectory(
        TpchGraph.copurchaseEdges(s, d), maxRounds = 3),
      Some(matchingOracle(rounds = 3)),
      "graph analytics — greedy maximal matching by locally-minimal-" +
        "edge rounds on the co-purchase graph: the coarsening primitive " +
        "of multilevel graph partitioning (matching contracts a 100 TB " +
        "graph level by level) and the edge dual of g61's MIS. Per " +
        "round an active edge matches iff its DETERMINISTIC md5-hex " +
        "priority is the min among edges incident to EITHER endpoint " +
        "(full-hex string min — collision-proof, identically ordered on " +
        "every engine); matched endpoints retire their incident edges, " +
        "a constant fraction of edges drops per round in expectation. " +
        "Trajectory rows (round, n_matched, n_remaining) are exact " +
        "integers; converged rounds repeat the fixpoint so the fixed-" +
        "depth oracle unroll matches the early-exiting loop"),

    Q("g63_hyperanf",
      (s, d) => graft.plans.HyperAnf.trajectory(
        TpchGraph.copurchaseEdges(s, d), maxRounds = 2),
      Some(hyperAnfOracle(rounds = 2)),
      "graph analytics — HyperANF approximate neighborhood function of " +
        "the co-purchase graph (Boldi-Rosa-Vigna): per vertex an HLL " +
        "sketch of its radius-r ball, advanced one radius per round by " +
        "an element-wise register max over neighbors. The scale answer " +
        "to exact ball counting (the S×V multi-source-BFS product g56 " +
        "caps): O(rounds) shuffles of V × 16 small ints, with the " +
        "16 registers laid out as COLUMNS so the max is 16 map-side-" +
        "combined aggregates — no arrays, no explode. Deterministic " +
        "md5 register hash, bin()-length ranks, literal-spliced bias/" +
        "linear-counting constants and a fixed estimate expression tree " +
        "make round(est·1e6) land on identical longs on both engines; " +
        "trajectory rows (round, sum_registers, nf_micro) are exact"),

    Q("g64_scc_certificates",
      (s, d) =>
        // the directed next-purchase transition graph (g58's cached
        // edge set, un-truncated): does the purchase sequence contain
        // round-trip dynamics? Bounded bidirectional min-label
        // propagation answers with radius-r SCC certificates
        graft.plans.SccLabels.trajectory(
          TpchGraph.transitionEdges(s, d).select(col("src"), col("dst")),
          maxRounds = 3),
      Some(sccOracle(rounds = 3)),
      "graph analytics — bounded-round SCC certificates on the DIRECTED " +
        "next-purchase transition graph (the FW-BW/Multistep first " +
        "phase): propagate the min vertex id forward (f = min id " +
        "reaching v) and backward (b = min id v reaches); f_r(v) = " +
        "b_r(v) = m PROVES v and m mutually reachable within r hops — " +
        "the cycle/feedback detector for sequential-pattern graphs. " +
        "DELTA propagation: only improved labels send messages (the " +
        "SSSP relaxation discipline), so message volume tracks the " +
        "shrinking frontier; the full-propagation oracle unroll " +
        "computes identical state. Trajectory rows (round, n_certified, " +
        "f_mass, b_mass) are exact integers, masses monotone"),

    Q("g65_incremental_triangles",
      (s, d) => {
        // incremental census maintenance: the standing BASE graph (90%
        // of edges, wave-proportioned — see TpchGraph.TriwaveBaseShare)
        // and its census are STORE ARTIFACTS (ArtifactStore, refreshed
        // per source fingerprint — never per invocation); only the
        // arriving 10% DELTA is attributed here, each new triangle
        // counted once by its maximal delta edge. The maintained total
        // must equal the oracle's independent full census;
        // Triangles.incrementalCounts (inline base rebuild) stays as
        // the audit twin under spec.
        // merged-vs-split is PICKED from the store meta (standing edge
        // mass vs the measured ~30M crossover — Triangles
        // .SplitCountsEdgeThreshold): below it this resolves to None
        // (merged), at/above it to the bucketed mirror artifact whose
        // probes never re-shuffle the standing side
        graft.plans.Triangles.incrementalCountsFrom(
          TpchGraph.storedTriwaveBaseEdges(s, d),
          TpchGraph.triwaveDeltaEdges(s, d),
          TpchGraph.storedTriwaveBaseTriangles(s, d)
            .agg(count(lit(1)).as("t_base")),
          baseMirrored = TpchGraph.triwaveBaseMirroredAuto(s, d))
      },
      Some(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        eb AS MATERIALIZED (SELECT u, v FROM e0
              WHERE ('0x' || substring(md5('triwave:' || CAST(u AS VARCHAR)
                       || '_' || CAST(v AS VARCHAR)), 1, 7))::BIGINT
                    / 268435456.0 < 0.9),
        tf AS (SELECT count(*) AS t
               FROM e0 e1 JOIN e0 e2 ON e2.u = e1.u AND e1.v < e2.v
                          JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v),
        tb AS (SELECT count(*) AS t
               FROM eb e1 JOIN eb e2 ON e2.u = e1.u AND e1.v < e2.v
                          JOIN eb e3 ON e3.u = e1.v AND e3.v = e2.v)
        SELECT CAST((SELECT count(*) FROM eb) AS BIGINT) AS n_base_edges,
               CAST((SELECT count(*) FROM e0) - (SELECT count(*) FROM eb) AS BIGINT)
                 AS n_delta_edges,
               CAST((SELECT t FROM tb) AS BIGINT) AS t_base,
               CAST((SELECT t FROM tf) - (SELECT t FROM tb) AS BIGINT) AS t_delta,
               CAST((SELECT t FROM tf) AS BIGINT) AS t_total"""),
      "graph analytics — INCREMENTAL triangle census maintenance: the " +
        "co-purchase edges split by a deterministic coin into a 90% " +
        "standing base and a 10% arriving wave (wave-proportioned — a " +
        "50/50 split made the attribution itself cost half a rebuild); " +
        "t(G ∪ D) = t(G) + " +
        "delta-attributed triangles, each counted once by its MAXIMAL " +
        "delta edge (md5-hex total order, the Matching convention). " +
        "Enumeration pivots at each delta edge's lower-degree endpoint, " +
        "so the incremental term costs Σ min-degree over the DELTA — " +
        "the base edge list and base triangle list are ArtifactStore " +
        "tables (t_base is a count over the stored list's row-group " +
        "stats, no wedge join), so a refresh genuinely costs only the " +
        "delta attribution. The oracle computes base and full censuses " +
        "independently, so the attribution arithmetic is hash-gated"),

    Q("g66_heavy_matching",
      (s, d) => graft.plans.Matching.weightedTrajectory(
        TpchGraph.weightedCopurchaseEdges(s, d), maxRounds = 3),
      Some(heavyMatchingOracle(rounds = 3)),
      "graph analytics — HEAVY-edge greedy matching on the weighted " +
        "co-purchase graph (w = shared-order count): the METIS " +
        "coarsening rule — each round the heaviest edge in its " +
        "neighborhood matches, a ½-approximation of maximum weight " +
        "matching in O(log m) parallel rounds. Weight-descending order " +
        "rides the same min(string) machinery as g62 via the " +
        "lpad(10¹² − w) ⧺ md5 priority (lexicographic min = weight max, " +
        "collision-proof ties); row-level raise_error guards the " +
        "weight domain. Trajectory (round, n_matched, matched_weight, " +
        "n_remaining) — exact integers, fixpoint rows repeat"),

    Q("g67_coarsen_level",
      (s, d) => graft.plans.Matching.coarsenStats(
        TpchGraph.coarsenLevelOne(s, d)),
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        wco AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        ed0 AS MATERIALIZED (
          SELECT u, v, w,
                 lpad(CAST(1000000000000 - w AS VARCHAR), 13, '0')
                   || md5('hmatch:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pe
          FROM wco),
        vm1 AS (SELECT x, min(pe) AS mpe FROM (
            SELECT u AS x, pe FROM ed0 UNION ALL SELECT v AS x, pe FROM ed0) GROUP BY 1),
        sel1 AS MATERIALIZED (
          SELECT e.u, e.v, e.w FROM ed0 e
          JOIN vm1 a ON a.x = e.u JOIN vm1 b ON b.x = e.v
          WHERE e.pe = a.mpe AND e.pe = b.mpe),
        verts AS (SELECT u AS x FROM ed0 UNION SELECT v FROM ed0),
        cmap AS (SELECT u AS x, u AS sx FROM sel1 UNION ALL SELECT v, u FROM sel1),
        sup AS (SELECT v.x, coalesce(c.sx, v.x) AS sx
                FROM verts v LEFT JOIN cmap c ON c.x = v.x),
        rek AS (SELECT a.sx AS su, b.sx AS sv, e.w
                FROM ed0 e JOIN sup a ON a.x = e.u JOIN sup b ON b.x = e.v),
        coarse AS (SELECT least(su, sv) AS cu, greatest(su, sv) AS cv, sum(w) AS w
                   FROM rek WHERE su <> sv GROUP BY 1, 2)
        SELECT CAST((SELECT count(*) FROM verts) AS BIGINT) AS n_vertices,
               CAST((SELECT count(*) FROM sel1) AS BIGINT) AS n_matched_pairs,
               CAST((SELECT count(DISTINCT sx) FROM sup) AS BIGINT) AS n_super_vertices,
               CAST((SELECT count(*) FROM coarse) AS BIGINT) AS n_super_edges,
               CAST((SELECT coalesce(sum(w), 0) FROM ed0) AS BIGINT) AS edge_weight_before,
               CAST((SELECT coalesce(sum(w), 0) FROM coarse) AS BIGINT) AS edge_weight_after,
               CAST((SELECT coalesce(sum(w), 0) FROM rek WHERE su = sv) AS BIGINT)
                 AS collapsed_weight"""),
      "graph analytics — one multilevel COARSENING level over the " +
        "weighted co-purchase graph: contract each heavy-matched pair " +
        "(g66's rule) into a supervertex, re-key every edge through " +
        "the contraction map, merge parallel coarse edges, and emit " +
        "the conservation invariant edge_weight_before = " +
        "edge_weight_after + collapsed_weight that a multilevel " +
        "partitioner checks per level. One matching round + two " +
        "vertex-map hash joins + one re-aggregation — corpus-linear, " +
        "no windows; all outputs exact integers"),

    Q("g68_partition_cut",
      (s, d) => graft.plans.Matching.partitionCutFrom(
        TpchGraph.coarsenLevelOne(s, d), k = 4).orderBy("partition"),
      Some(s"""
        WITH $partitionCtes,
        lab AS (SELECT c.w, a.pid AS pu, b.pid AS pv
                FROM coarse c JOIN asg a ON a.sx = c.cu JOIN asg b ON b.sx = c.cv),
        cut AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS cut_weight
                FROM lab WHERE pu <> pv),
        intw AS (SELECT pu AS partition, sum(w) AS iw FROM lab WHERE pu = pv GROUP BY 1)
        SELECT a.pid AS partition,
               CAST(count(*) AS BIGINT) AS n_super,
               CAST(sum(a.bw) AS BIGINT) AS base_weight,
               CAST(coalesce(any_value(i.iw), 0) AS BIGINT) AS internal_weight,
               (SELECT cut_weight FROM cut) AS cut_weight
        FROM asg a LEFT JOIN intw i ON i.partition = a.pid
        GROUP BY 1 ORDER BY 1"""),
      "graph analytics — balanced 4-way INITIAL PARTITIONING of the " +
        "coarse graph plus the edge cut it induces: the step after " +
        "g67's contraction in a multilevel partitioner. Supervertices " +
        "assign by weight-descending round-robin (rank mod k over " +
        "base-vertex weight, id tie-break) — deterministic, balanced " +
        "to within one max-weight vertex, a plain SQL window; in a " +
        "full stack this runs at the COARSEST level where the vertex " +
        "set is small by construction, so the global sort is bounded " +
        "while corpus-sized work stays in the hash-join levels. " +
        "Output rows (partition, n_super, base_weight, " +
        "internal_weight, cut_weight) — exact integers gating the " +
        "invariant edge_weight_after = Σ internal + cut"),

    Q("g69_modularity",
      (s, d) => {
        val e = TpchGraph.edges(s, d, withPayload = false).toDF()
          .filter(col("relType").isin("InNation", "InRegion"))
          .select(col("src").as("u"), col("dst").as("v"))
        graft.plans.Modularity.score(e,
          graft.plans.LabelPropagation.run(e, iters = 3))
      },
      Some {
        def round(i: Int) =
          s"""l$i AS (
            SELECT key, label FROM (
              SELECT und.u AS key, l.label, count(*) AS n,
                     row_number() OVER (PARTITION BY und.u
                                        ORDER BY count(*) DESC, l.label) AS rn
              FROM und JOIN l${i - 1} l ON l.key = und.v
              GROUP BY und.u, l.label) WHERE rn = 1)"""
        s"""
        WITH e0 AS (
          SELECT 'customer_' || c_custkey AS u, 'nation_' || c_nationkey AS v FROM customer
          UNION ALL
          SELECT 'supplier_' || s_suppkey, 'nation_' || s_nationkey FROM supplier
          UNION ALL
          SELECT 'nation_' || n_nationkey, 'region_' || n_regionkey FROM nation),
        und AS (SELECT DISTINCT u, v
                FROM (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)),
        l0 AS (SELECT DISTINCT u AS key, u AS label FROM und),
        ${round(1)}, ${round(2)}, ${round(3)},
        ce AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
              FROM e0 WHERE u <> v),
        deg AS (SELECT x, count(*) AS d FROM (
            SELECT u AS x FROM ce UNION ALL SELECT v FROM ce) GROUP BY 1),
        dl AS MATERIALIZED (SELECT deg.x, deg.d, l.label
              FROM deg LEFT JOIN l3 l ON l.key = deg.x),
        dc AS (SELECT label, sum(d) AS dc FROM dl
               WHERE label IS NOT NULL GROUP BY 1),
        dcagg AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
                         coalesce(sum(CAST(dc AS HUGEINT) * dc), 0) AS dc_sq FROM dc),
        intr AS (SELECT CAST(coalesce(sum(
                   CASE WHEN a.label = b.label THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS internal_edges
                 FROM ce LEFT JOIN l3 a ON a.key = ce.u
                         LEFT JOIN l3 b ON b.key = ce.v),
        base AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ce) AS m,
                        (SELECT CAST(count(*) AS BIGINT) FROM dl) AS n_vertices,
                        (SELECT CAST(coalesce(sum(CASE WHEN label IS NULL
                           THEN 1 ELSE 0 END), 0) AS BIGINT) FROM dl) AS n_unlabeled)
        SELECT m, n_vertices, n_unlabeled, n_communities, internal_edges,
               CASE WHEN m = 0 THEN 0 ELSE
                 CAST((CASE WHEN 4 * CAST(m AS HUGEINT) * internal_edges - dc_sq < 0
                            THEN -1 ELSE 1 END)
                   * ((2000000 * abs(4 * CAST(m AS HUGEINT) * internal_edges - dc_sq)
                       + 4 * CAST(m AS HUGEINT) * m)
                      // (2 * 4 * CAST(m AS HUGEINT) * m)) AS BIGINT) END AS q_micro
        FROM base CROSS JOIN dcagg CROSS JOIN intr"""
      },
      "graph analytics — Newman-Girvan MODULARITY of the g39 LPA " +
        "communities: the score community detection is judged by " +
        "(and the Louvain objective), Q = (4m·e_int − Σd_c²)/4m². " +
        "Detect (g39) then SCORE, as g67 coarsens and g68 cuts. " +
        "Every Q input is an exact integer; the one division runs in " +
        "decimal38/HUGEINT (Σd_c² reaches 4m², past a long at ~10⁹ " +
        "edges) with sign-safe round-half-up onto the 10⁻⁶ grid, so " +
        "q_micro lands on the same long on both engines. One edge " +
        "pass + two label hash joins + a per-community rollup — " +
        "corpus-linear, no windows, arithmetic on one row"),

    Q("g70_refine_cut",
      (s, d) => graft.plans.Matching.refineOnceFrom(
        TpchGraph.coarsenLevelOne(s, d), k = 4),
      Some(s"""
        WITH $partitionCtes,
        inc AS (SELECT cu AS x, cv AS nbr, w FROM coarse
                UNION ALL SELECT cv, cu, w FROM coarse),
        conn AS MATERIALIZED (
          SELECT i.x, a.pid AS q, sum(i.w) AS cw
          FROM inc i JOIN asg a ON a.sx = i.nbr GROUP BY 1, 2),
        best AS (SELECT x, q AS target, cw AS bw2 FROM (
                   SELECT x, q, cw,
                          row_number() OVER (PARTITION BY x
                                             ORDER BY cw DESC, q) AS rn
                   FROM conn) WHERE rn = 1),
        cur AS (SELECT a.sx, a.pid, coalesce(c.cw, 0) AS curw
                FROM asg a LEFT JOIN conn c ON c.x = a.sx AND c.q = a.pid),
        mv AS MATERIALIZED (
          SELECT cur.sx, cur.pid, b.target, b.bw2 - cur.curw AS gain,
                 ('0x' || substring(md5('refine:' || CAST(cur.sx AS VARCHAR)),
                   1, 7))::BIGINT % 2 AS par
          FROM cur LEFT JOIN best b ON b.x = cur.sx),
        asg2 AS (SELECT sx,
                   CASE WHEN gain > 0 AND par = 0 AND target <> pid
                        THEN target ELSE pid END AS pid
                 FROM mv),
        cb AS (SELECT CAST(coalesce(sum(c.w), 0) AS BIGINT) AS cut_before
               FROM coarse c JOIN asg a ON a.sx = c.cu
                             JOIN asg b ON b.sx = c.cv
               WHERE a.pid <> b.pid),
        ca AS (SELECT CAST(coalesce(sum(c.w), 0) AS BIGINT) AS cut_after
               FROM coarse c JOIN asg2 a ON a.sx = c.cu
                             JOIN asg2 b ON b.sx = c.cv
               WHERE a.pid <> b.pid),
        nb AS (SELECT CAST(count(DISTINCT c.x) AS BIGINT) AS n_boundary
               FROM conn c JOIN asg a ON a.sx = c.x WHERE c.q <> a.pid)
        SELECT CAST((SELECT count(*) FROM mv) AS BIGINT) AS n_super,
               (SELECT n_boundary FROM nb) AS n_boundary,
               CAST((SELECT coalesce(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END), 0)
                     FROM mv) AS BIGINT) AS n_candidates,
               CAST((SELECT coalesce(sum(CASE WHEN gain > 0 AND par = 0
                       THEN 1 ELSE 0 END), 0) FROM mv) AS BIGINT) AS n_moved,
               (SELECT cut_before FROM cb) AS cut_before,
               (SELECT cut_after FROM ca) AS cut_after"""),
      "graph analytics — one Spinner-style REFINEMENT pass over the " +
        "g68 assignment (coarsen g67 → assign g68 → REFINE, the third " +
        "multilevel phase): per supervertex the connectivity to every " +
        "partition, the argmax move and its gain; positive-gain " +
        "vertices whose md5 PARITY bit is 0 move simultaneously — the " +
        "alternating-parity conflict gate of streaming partitioners " +
        "(a full synchronous move set lets adjacent vertices chase " +
        "each other). Connectivity = one edge expansion + assignment " +
        "join + (vertex, partition) aggregate; argmax = per-vertex " +
        "window; cut evaluated before and after as exact integers so " +
        "the caller gates on improvement"),

    Q("g71_coarsen_trajectory",
      (s, d) => graft.plans.Matching.coarsenTrajectoryFrom(
        TpchGraph.coarsenLevelOne(s, d), levels = 3),
      Some(coarsenTrajectoryOracle(levels = 3)),
      "graph analytics — the multilevel COARSENING LOOP itself (the " +
        "V-cycle's descending leg): g67's heavy-matching contraction " +
        "applied level over level, each level's coarse graph feeding " +
        "the next, three levels deep. The trajectory pins the " +
        "geometric shrink a partitioner banks on (n_super ≈ n − " +
        "matched per level) and conservation level over level " +
        "(weight_before = weight_after + collapsed). Level cost " +
        "tracks the SHRINKING graph — one matching round + two " +
        "vertex-map joins + one re-aggregation per level — so the " +
        "full descent is a constant factor over level one; exact " +
        "integers throughout"),

    Q("g72_walk_contexts",
      (s, d) => {
        // g54's deterministic walk corpus → the (center, context,
        // n_pairs) skip-gram table a DeepWalk/node2vec trainer consumes
        // — the graph-side twin of p118's text skip-gram export
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val starts = e.select(col("u").as("start"))
          .filter(col("start") % 20 === 0).distinct()
        val w = graft.plans.RandomWalks.walks(e, starts, walksPerStart = 2,
          steps = 4, edgesAreDistinct = true)
        graft.plans.RandomWalks.contextPairs(w, window = 2)
      },
      Some(walkContextsOracle),
      "graph analytics — skip-gram context pairs from the walk corpus: " +
        "the (center, context, n_pairs) co-occurrence table a DeepWalk/" +
        "node2vec trainer consumes, completing the graph→embedding " +
        "training-data path (g54 walks → THIS → p119-style negative " +
        "sampling). Pair generation is one nested array transform per " +
        "walk — map-side inside codegen, no self-join, bounded " +
        "(steps+1)·2w expansion — with one aggregate for the counts"),

    Q("g73_sweep_cut",
      (s, d) => {
        // local community around the smallest part: PPR from the seed,
        // sweep prefixes of the rank/degree order, conductance per
        // prefix — the seeded "find THIS node's community" primitive
        // (LPA g39 and the g66-g71 partitioning arc answer the global
        // question; a recommender asks the local one)
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
          .select(col("u").as("src"), col("v").as("dst"))
        val seed = e.agg(min("src")).head().getLong(0)
        // the mirrored canonical (u < v) half is distinct by construction
        graft.plans.SweepCut.localCommunity(e, col("key") === seed,
          iters = 3, maxPrefix = 20, edgesAreDistinct = true)
      },
      Some(sweepCutOracle(iters = 3, maxPrefix = 20)),
      "graph analytics — PPR SWEEP CUT (Andersen-Chung-Lang): local " +
        "community around a seed by conductance sweep over the " +
        "rank/degree order, exact scaled-integer PPR + ppm conductance " +
        "with floor division — hash-verifiable cross-engine where " +
        "float PPR never is. The sweep needs only the top-maxPrefix " +
        "vertices (bounded heap, never a global sort of the reached " +
        "set); per-prefix cut/volume come from one pass over edges " +
        "incident to the chosen vertices (inside activation = max of " +
        "endpoint ranks), finished by windows over maxPrefix rows"),

    Q("g74_assortativity",
      (s, d) => {
        // DEGREE ASSORTATIVITY (Newman): do hubs attach to hubs (r>0)
        // or to satellites (r<0)? The one-number mixing diagnostic that
        // decides which skew mitigations matter — a disassortative
        // graph concentrates wedge mass at hubs (the g36/g43 pressure),
        // an assortative one spreads it. Sufficient statistics are
        // EXACT integer sums over the mirrored edge set (by symmetry
        // Sx = Sy, Sxx = Syy — computed once); the final Pearson form
        // is a fixed double expression over those integers, identical
        // op-for-op on both engines, rounded to 6.
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val deg = e.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
        val joined = e
          .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        joined.agg(
            count(lit(1)).as("m_edges"),
            sum(col("du")).as("sum_deg"),
            sum(col("du") * col("du")).as("sum_deg_sq"),
            sum(col("du") * col("dv")).as("sum_prod"))
          .select(col("m_edges"), col("sum_deg"), col("sum_deg_sq"),
            col("sum_prod"),
            round((col("m_edges").cast("double") * col("sum_prod")
                - col("sum_deg").cast("double") * col("sum_deg"))
              / (col("m_edges").cast("double") * col("sum_deg_sq")
                - col("sum_deg").cast("double") * col("sum_deg")), 6)
              .as("assortativity"))
      },
      Some(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.k = b.k AND a.p <> b.p),
        deg AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
        j AS (SELECT du.dg AS du, dv.dg AS dv
              FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
        st AS (SELECT CAST(count(*) AS BIGINT) AS m_edges,
                      CAST(sum(du) AS BIGINT) AS sum_deg,
                      CAST(sum(du * du) AS BIGINT) AS sum_deg_sq,
                      CAST(sum(du * dv) AS BIGINT) AS sum_prod
               FROM j)
        SELECT m_edges, sum_deg, sum_deg_sq, sum_prod,
               round((CAST(m_edges AS DOUBLE) * sum_prod
                      - CAST(sum_deg AS DOUBLE) * sum_deg)
                     / (CAST(m_edges AS DOUBLE) * sum_deg_sq
                      - CAST(sum_deg AS DOUBLE) * sum_deg), 6) AS assortativity
        FROM st"""),
      "graph analytics — Newman DEGREE ASSORTATIVITY: the one-number " +
        "mixing diagnostic (hubs-to-hubs r>0 vs hubs-to-satellites " +
        "r<0) that predicts where wedge mass concentrates and hence " +
        "which skew mitigations a graph needs. Exact integer " +
        "sufficient statistics over one mirrored-edge scan + two " +
        "degree joins (Sx=Sy, Sxx=Syy by symmetry — computed once); " +
        "the Pearson form is one fixed double expression over those " +
        "integers, op-for-op identical on both engines"),

    Q("g75_rich_club",
      (s, d) => {
        // RICH-CLUB coefficient at a ladder of degree thresholds:
        // φ(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of nodes with
        // degree > k — do the hubs form their own densely-wired club?
        // The structural complement of g74's assortativity (r>0 says
        // hubs PREFER hubs; φ(k) says whether the club is actually
        // dense), and the number that decides whether hub-subgraph
        // caching pays. One degree aggregate + one edge⋈degree pass,
        // the k-ladder applied as a broadcast explode — never a
        // per-k rescan; exact integers + one ppm floor division.
        import s.implicits._
        val ks = Seq(2, 4, 8, 16, 32, 64)
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val deg = e.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
        val kDf = ks.toDF("k")
        val nodes = deg.crossJoin(broadcast(kDf)).filter(col("dg") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_nodes"))
        val edges = TpchGraph.copurchaseEdges(s, d)
          .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
          .crossJoin(broadcast(kDf))
          .filter(least(col("du"), col("dv")) > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_edges"))
        nodes.join(edges, Seq("k"), "left")
          .select(col("k"),
            col("n_nodes"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            when(col("n_nodes") >= 2,
              expr("coalesce(n_edges, 0L) * 2000000 div (n_nodes * (n_nodes - 1))"))
              .otherwise(lit(0L)).as("phi_ppm"))
          .orderBy("k")
      },
      Some(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        he AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        e AS (SELECT u, v FROM he UNION ALL SELECT v, u FROM he),
        deg AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
        ks AS (SELECT unnest([2, 4, 8, 16, 32, 64]) AS k),
        n AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
              FROM deg CROSS JOIN ks WHERE dg > k GROUP BY 1),
        ed AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
               FROM he JOIN deg du ON du.x = he.u JOIN deg dv ON dv.x = he.v
               CROSS JOIN ks
               WHERE least(du.dg, dv.dg) > k GROUP BY 1)
        SELECT n.k, n.n_nodes,
               CAST(coalesce(ed.n_edges, 0) AS BIGINT) AS n_edges,
               CAST(CASE WHEN n.n_nodes >= 2
                    THEN coalesce(ed.n_edges, 0) * 2000000
                         // (n.n_nodes * (n.n_nodes - 1))
                    ELSE 0 END AS BIGINT) AS phi_ppm
        FROM n LEFT JOIN ed USING (k) ORDER BY n.k"""),
      "graph analytics — RICH-CLUB coefficient ladder: phi(k) = " +
        "2·E_k/(N_k·(N_k-1)) over nodes of degree > k — do the hubs " +
        "wire densely among themselves? The structural complement of " +
        "g74 (assortativity says hubs PREFER hubs; this says whether " +
        "the club is dense) and the number that decides if " +
        "hub-subgraph caching pays. One degree aggregate + one " +
        "edge-degree pass with the k-ladder as a broadcast explode — " +
        "never a per-k rescan; exact integers, ppm floor division"),

    Q("g76_link_prediction",
      (s, d) => {
        // LINK-PREDICTION recommendations for a FIXED SEED BATCH: for
        // each seed's non-adjacent 2-hop candidates, common-neighbor
        // count, the Resource-Allocation index (Σ 1/deg(w) over shared
        // neighbors — Adamic-Adar's rational twin, exact in integer
        // micro-units where 1/log(deg) never is), and neighborhood
        // Jaccard ppm; top-5 per seed. The GLOBAL all-pairs CN table is
        // wedge-quadratic around hubs (measured here: 8× growth per 10×
        // data before seeding) — a recommender serves per-node batches,
        // and a batch's cost is Σ_{v∈N(seeds)} deg(v), independent of
        // corpus size for a fixed batch. Sweep key ranges to cover the
        // graph.
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val deg = e.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
        // fixed seed batch (an accuracy/batch parameter, never
        // corpus-proportional — the g56/g73 posture); sweep the corpus
        // in key-range batches at deployment
        val seeds = e.filter(col("u") % 997 === 0 && col("u") < 20000)
        val wedges = broadcast(seeds.select(col("u").as("a"), col("v").as("c"))
            .distinct())
          .join(e.select(col("u").as("c"), col("v").as("b")), "c")
          .filter(col("b") =!= col("a"))
          .join(deg.select(col("x").as("c"), col("dg").as("dc")), "c")
        val cand = wedges.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("cn"),
            sum(expr("1000000 div dc")).as("ra_micro"))
          .join(e.select(col("u").as("a"), col("v").as("b")),
            Seq("a", "b"), "left_anti")
          .join(deg.select(col("x").as("a"), col("dg").as("da")), "a")
          .join(deg.select(col("x").as("b"), col("dg").as("db")), "b")
          .select(col("a").as("seed"), col("b").as("cand_id"), col("cn"),
            col("ra_micro"),
            expr("cn * 1000000 div (da + db - cn)").as("jaccard_ppm"))
        graft.plans.TopKPerGroup.topK(cand, Seq(col("seed")),
            struct(col("cn"), col("ra_micro"), -col("cand_id")), 5)
          .orderBy(col("seed"), col("cn").desc, col("ra_micro").desc,
            col("cand_id"))
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        he AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        e AS MATERIALIZED (SELECT u, v FROM he UNION ALL SELECT v, u FROM he),
        deg AS MATERIALIZED (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg
               FROM e GROUP BY 1),
        sd AS (SELECT DISTINCT u AS a, v AS c FROM e
               WHERE u % 997 = 0 AND u < 20000),
        w AS (SELECT sd.a, e2.v AS b, d.dg AS dc
              FROM sd JOIN e e2 ON e2.u = sd.c AND e2.v <> sd.a
              JOIN deg d ON d.x = sd.c),
        cd AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
                      CAST(sum(1000000 // dc) AS BIGINT) AS ra_micro
               FROM w GROUP BY 1, 2),
        ne AS (SELECT cd.* FROM cd
               LEFT JOIN e ON e.u = cd.a AND e.v = cd.b
               WHERE e.u IS NULL),
        sc AS (SELECT ne.a AS seed, ne.b AS cand_id, ne.cn, ne.ra_micro,
                      CAST(ne.cn * 1000000
                        // (da.dg + db.dg - ne.cn) AS BIGINT) AS jaccard_ppm,
                      row_number() OVER (PARTITION BY ne.a
                        ORDER BY ne.cn DESC, ne.ra_micro DESC, ne.b) AS rn
               FROM ne JOIN deg da ON da.x = ne.a JOIN deg db ON db.x = ne.b)
        SELECT seed, cand_id, cn, ra_micro, jaccard_ppm FROM sc
        WHERE rn <= 5
        ORDER BY seed, cn DESC, ra_micro DESC, cand_id"""),
      "graph analytics — LINK-PREDICTION recommendations for a fixed " +
        "seed batch: per seed, the top-5 non-adjacent 2-hop candidates " +
        "by common-neighbor count, with the Resource-Allocation index " +
        "(sum of 1/deg over shared neighbors — Adamic-Adar's RATIONAL " +
        "twin, exact integer micro-units where 1/log(deg) never is) " +
        "and neighborhood Jaccard ppm. The global all-pairs CN table " +
        "is wedge-quadratic around hubs (measured 8x per 10x data); a " +
        "recommender serves per-node batches, whose cost is the seed " +
        "neighborhoods' edge mass — independent of corpus size for a " +
        "fixed batch (the g56/g73 posture; sweep key ranges to cover " +
        "the graph). Anti join drops existing edges; per-seed top-5 " +
        "via bounded heaps"),

    Q("g77_artifact_store",
      (s, d) => {
        // the persistent maintained-artifact gate: the three standing
        // graph artifacts (ranked walk adjacency, weighted co-purchase
        // edges, next-purchase transitions) are written ONCE as bucketed
        // parquet via ArtifactStore (source-fingerprint invalidation)
        // and read back; this query answers ENTIRELY from the store
        // scan, and the oracle recomputes the identical tables from the
        // base tables — full-content row hashes, not just counts, so a
        // store that dropped, duplicated, or corrupted one row fails
        def sig(df: org.apache.spark.sql.DataFrame, name: String,
                cols: Seq[String]) =
          df.agg(count(lit(1)).as("n_rows"),
              coalesce(sum(conv(substring(md5(concat_ws("|",
                cols.map(c => col(c).cast("string")): _*)), 1, 7), 16, 10)
                .cast("long")), lit(0L)).as("checksum"))
            .select(lit(name).as("artifact"), col("n_rows"), col("checksum"))
        sig(TpchGraph.storedRankedAdjacency(s, d), "ranked_adjacency",
            Seq("u", "v", "rk", "deg"))
          .unionByName(sig(TpchGraph.storedTransitionEdges(s, d),
            "transition_edges", Seq("src", "dst", "n_transitions")))
          .unionByName(sig(TpchGraph.storedWeightedCopurchase(s, d),
            "weighted_copurchase", Seq("u", "v", "w")))
          .orderBy("artifact")
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        he AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        e AS (SELECT u, v FROM he UNION ALL SELECT v, u FROM he),
        adj AS (SELECT u, v,
                       row_number() OVER (PARTITION BY u ORDER BY v) AS rk,
                       count(*) OVER (PARTITION BY u) AS deg
                FROM e),
        wc AS (SELECT a.p AS u, b.p AS v, count(*) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        o AS (SELECT o_custkey AS c, o_orderkey AS k, o_orderdate AS dt FROM orders),
        nx AS (SELECT k, lead(k) OVER (PARTITION BY c ORDER BY dt, k) AS k2 FROM o),
        tr AS (SELECT a.p AS src, b.p AS dst, count(*) AS n
               FROM nx JOIN li a ON a.k = nx.k JOIN li b ON b.k = nx.k2
               WHERE nx.k2 IS NOT NULL GROUP BY 1, 2)
        SELECT 'ranked_adjacency' AS artifact,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR) || '|' ||
                 CAST(rk AS VARCHAR) || '|' || CAST(deg AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT) AS checksum
        FROM adj
        UNION ALL
        SELECT 'transition_edges',
               CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR) || '|' ||
                 CAST(n AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT)
        FROM tr
        UNION ALL
        SELECT 'weighted_copurchase',
               CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR) || '|' ||
                 CAST(w AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT)
        FROM wc
        ORDER BY artifact"""),
      "maintained artifacts — the persistent store gate: ranked walk " +
        "adjacency, weighted co-purchase edges, and transition counts " +
        "written once as BUCKETED parquet (ArtifactStore, source-" +
        "fingerprint invalidation) and answered from the store scan; " +
        "full-content row-hash checksums verified against an inline " +
        "recomputation from the base tables. At 100 TB these artifacts " +
        "are lake tables refreshed with their sources, and consumers " +
        "bucket-join without a shuffle"),

    Q("g78_walks_from_store",
      (s, d) => {
        // g72's skip-gram export re-run from the STANDING adjacency:
        // the walk loop consumes the bucketed store artifact directly,
        // so this measures (and gates) the marginal cost of one more
        // corpus export — the walk joins alone, no adjacency rebuild.
        // Hash-matching g72's oracle proves store path == inline path.
        val adj = TpchGraph.storedRankedAdjacency(s, d)
        val starts = adj.select(col("u").as("start"))
          .filter(col("start") % 20 === 0).distinct()
        val w = graft.plans.RandomWalks.walksFromAdjacency(
          adj, starts, walksPerStart = 2, steps = 4)
        graft.plans.RandomWalks.contextPairs(w, window = 2)
      },
      Some(walkContextsOracle),
      "maintained artifacts — the marginal-export gate: the g72 " +
        "skip-gram corpus computed from the PERSISTED ranked adjacency " +
        "(g77's store artifact) instead of an inline rebuild, sharing " +
        "g72's oracle byte for byte — the read-from-store path is " +
        "proven equal to the rebuild, and its bench cost is the walk " +
        "joins alone (what a deployment pays per additional export " +
        "from a standing artifact)"),

    Q("g79_harmonic_centrality",
      (s, d) => {
        // harmonic centrality from the same fixed seed sample as g56 —
        // the disconnected-robust centrality (unreachable vertices
        // contribute 0 instead of making closeness undefined), kept
        // exact via scale-div-dist integer contributions. ONE
        // multi-source BFS; only the readout differs from g56
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val starts = e.select(col("u").as("start"))
          .filter(col("start") % 100 === 0 && col("start") <= 2000).distinct()
        graft.plans.MultiSourceBfs.harmonicCentrality(e, starts, maxDepth = 3)
          .orderBy("start")
      },
      Some(harmonicOracle(depth = 3)),
      "graph analytics — truncated HARMONIC centrality " +
        "(Marchiori-Latora; the form Boldi-Vigna recommend over " +
        "closeness because unreachable vertices contribute 0 instead " +
        "of poisoning the sum): per seed, the exact integer " +
        "sum of floor(1000000 / dist) over reached vertices within " +
        "radius 3. Shares g56's single multi-source (seed, node)-keyed " +
        "BFS and its fixed-seed-sample rule; the oracle shares the " +
        "same fixed-depth visited-set unroll with only the readout " +
        "changed — integer floor division keeps the harmonic sum " +
        "bit-portable where float 1/d never is"),

    Q("g80_weighted_pagerank",
      (s, d) => {
        // rank mass splits proportionally to co-purchase FREQUENCY —
        // the multigraph centrality a recommender wants (an edge seen
        // in 40 orders carries 40x a one-off's mass); the weighted
        // co-purchase edges are the standing session artifact the
        // multilevel-partitioning family already shares
        val half = TpchGraph.weightedCopurchaseEdges(s, d)
        val e = half.select(col("u").as("src"), col("v").as("dst"), col("w"))
          .unionByName(half.select(col("v").as("src"), col("u").as("dst"), col("w")))
        // the mirrored canonical (u < v) half is distinct by construction
        graft.plans.PageRank.weightedRanksScaled(e, iters = 3,
            edgesAreDistinct = true)
          .select(col("key").as("part"), col("rank_scaled"))
          .orderBy(desc("rank_scaled"), asc("part")).limit(15)
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        he AS MATERIALIZED (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        ed AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM he
                            UNION ALL SELECT v, u, w FROM he),
        vv AS (SELECT DISTINCT src AS key FROM ed),
        ow AS (SELECT src, sum(w) AS tw FROM ed GROUP BY 1),
        p0 AS (SELECT key, CAST(1000000 AS BIGINT) AS r FROM vv),
        p1 AS (SELECT vv.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM vv LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r * ed.w // ow.tw) AS inc
                 FROM ed JOIN p0 p ON p.key = ed.src JOIN ow ON ow.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p2 AS (SELECT vv.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM vv LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r * ed.w // ow.tw) AS inc
                 FROM ed JOIN p1 p ON p.key = ed.src JOIN ow ON ow.src = ed.src
                 GROUP BY ed.dst) s USING (key)),
        p3 AS (SELECT vv.key, CAST(150000 + (85 * coalesce(s.inc, 0)) // 100 AS BIGINT) AS r
               FROM vv LEFT JOIN (
                 SELECT ed.dst AS key, sum(p.r * ed.w // ow.tw) AS inc
                 FROM ed JOIN p2 p ON p.key = ed.src JOIN ow ON ow.src = ed.src
                 GROUP BY ed.dst) s USING (key))
        SELECT key AS part, r AS rank_scaled FROM p3
        ORDER BY rank_scaled DESC, part LIMIT 15"""),
      "graph analytics — WEIGHTED PageRank over the co-purchase " +
        "multigraph: a source's rank splits across neighbors " +
        "proportionally to co-purchase frequency (r*w div W(u), floor " +
        "division per edge, associative long sums) — an edge seen in " +
        "40 orders carries 40x a one-off's mass, the centrality a " +
        "recommender actually wants from multigraph-derived edges. " +
        "Same exact scaled-integer recurrence and per-round plan as " +
        "g37, whose uniform form is the w==1 special case of the " +
        "shared iteration; 3 fixed iterations, top-15, bit-identical " +
        "cross-engine"),

    Q("g81_betweenness",
      (s, d) => {
        // truncated sampled Brandes from g56's fixed seed sample over
        // the undirected co-purchase graph — the remaining classic
        // centrality: shortest-path TRAFFIC through a vertex, where
        // closeness/harmonic measure proximity. Radius 2 + scale 1000
        // per the documented long-overflow budget
        val e = TpchGraph.copurchaseEdgesMirrored(s, d)
        val starts = e.select(col("u").as("start"))
          .filter(col("start") % 100 === 0 && col("start") <= 2000).distinct()
        graft.plans.Betweenness.sampled(e, starts, maxDepth = 2)
          .withColumnRenamed("node", "part")
          .orderBy("part")
      },
      Some(betweennessOracle(depth = 2)),
      "graph analytics — truncated sampled BETWEENNESS (Brandes 2001; " +
        "seed sampling Brandes-Pich 2007; bounded distance Borgatti " +
        "2006): exact integer path counts sigma forward, Brandes's " +
        "backward dependency accumulation in scaled-integer form " +
        "sigma(v)*(1000 + delta(w)) div sigma(w) — level-synchronous " +
        "floor division, so the accumulation is bit-identical " +
        "cross-engine where float Brandes is sum-order-dependent. " +
        "Fixed seed sample (the g56 accuracy-parameter rule) and a " +
        "documented overflow budget (deg^D * reach * scale < 2^63 — " +
        "ANSI fails loudly past it); forward = the g56 BFS plus one " +
        "map-side sigma sum per level, backward = one hash join per " +
        "LEVEL, a small fixed constant"),

    Q("g82_purchase_trigrams",
      (s, d) => {
        // DEPTH-2 sequential patterns (what follows an A→B purchase —
        // the table a next-item model conditions on beyond g58's
        // bigrams) with APRIORI support pruning, GSP/PrefixSpan's
        // anti-monotonicity made distributed: a trigram is counted only
        // if BOTH its bigrams are frequent (support ≥ 2 on the standing
        // transition artifact), and the first prune runs BEFORE the
        // third lineitem explode — candidate mass tracks the frequent
        // set (≈2k pairs at every SF), never the corpus-cubed cross
        val freq = TpchGraph.transitionEdges(s, d)
          .filter(col("n_transitions") >= 2).select("src", "dst")
        val w = Window.partitionBy("c").orderBy("dt", "k")
        val tri = TpchGraph.table(s, d, "orders")
          .select(col("o_custkey").as("c"), col("o_orderkey").as("k"),
            col("o_orderdate").as("dt"))
          .select(col("k"), lead(col("k"), 1).over(w).as("k2"),
            lead(col("k"), 2).over(w).as("k3"))
          .filter(col("k3").isNotNull)
        val li = TpchGraph.lineitemDeduped(s, d)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
        tri
          .join(li.select(col("k"), col("p").as("p1")), "k")
          .join(li.select(col("k").as("k2"), col("p").as("p2")), "k2")
          .join(broadcast(freq.select(col("src").as("p1"), col("dst").as("p2"))),
            Seq("p1", "p2"), "left_semi")
          .join(li.select(col("k").as("k3"), col("p").as("p3")), "k3")
          .join(broadcast(freq.select(col("src").as("p2"), col("dst").as("p3"))),
            Seq("p2", "p3"), "left_semi")
          .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("n_occurrences"))
          .orderBy("p1", "p2", "p3")
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        o AS (SELECT o_custkey AS c, o_orderkey AS k, o_orderdate AS dt FROM orders),
        nx AS (SELECT k, lead(k) OVER (PARTITION BY c ORDER BY dt, k) AS k2,
                      lead(k, 2) OVER (PARTITION BY c ORDER BY dt, k) AS k3
               FROM o),
        tr AS (SELECT a.p AS src, b.p AS dst, count(*) AS n
               FROM nx JOIN li a ON a.k = nx.k JOIN li b ON b.k = nx.k2
               WHERE nx.k2 IS NOT NULL GROUP BY 1, 2),
        fr AS MATERIALIZED (SELECT src, dst FROM tr WHERE n >= 2)
        SELECT a.p AS p1, b.p AS p2, c.p AS p3,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM nx JOIN li a ON a.k = nx.k
                JOIN li b ON b.k = nx.k2
                JOIN li c ON c.k = nx.k3
        WHERE nx.k3 IS NOT NULL
          AND EXISTS (SELECT 1 FROM fr WHERE fr.src = a.p AND fr.dst = b.p)
          AND EXISTS (SELECT 1 FROM fr WHERE fr.src = b.p AND fr.dst = c.p)
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      "graph analytics — DEPTH-2 sequential patterns (purchase " +
        "trigrams): what follows an A->B transition, the conditioning " +
        "table a next-item recommender needs beyond g58's bigrams. " +
        "Apriori support pruning (GSP/PrefixSpan anti-monotonicity) " +
        "distributed: only trigrams whose BOTH bigrams clear the " +
        "support floor on the standing transition artifact are " +
        "counted, the ~2k-row frequent set broadcasts, and the first " +
        "prune lands BEFORE the third lineitem join — candidate mass " +
        "tracks the frequent set, never the corpus-cubed cross"),

    Q("g83_association_rules",
      (s, d) => {
        // market-basket ASSOCIATION RULES (Agrawal et al. 1993) off the
        // standing weighted co-purchase artifact: for each frequent
        // pair, both directed rules a→b with exact integer support /
        // confidence / lift — the basket-level companion of g82's
        // sequential patterns (within one order vs across orders).
        // All inputs are artifact- or marginal-sized; the corpus is
        // never rescanned
        val li = TpchGraph.lineitemDeduped(s, d)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
        val nOrders = li.select(col("k")).distinct().count()
        val itemN = li.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
        val pairs = TpchGraph.weightedCopurchaseEdges(s, d)
          .filter(col("w") >= 2) // support floor: rare-pair luck is not a rule
        val rules = pairs
          .select(col("u").as("antecedent"), col("v").as("consequent"), col("w"))
          .unionByName(pairs
            .select(col("v").as("antecedent"), col("u").as("consequent"), col("w")))
          .join(itemN.select(col("p").as("antecedent"), col("n_item").as("na")),
            "antecedent")
          .join(itemN.select(col("p").as("consequent"), col("n_item").as("nb")),
            "consequent")
          .select(col("antecedent"), col("consequent"), col("w").as("n_joint"),
            expr(s"w * 1000000 div $nOrders").as("support_ppm"),
            expr("w * 1000000 div na").as("confidence_ppm"),
            expr(s"w * $nOrders * 1000 div (na * nb)").as("lift_milli"))
        rules.orderBy(desc("lift_milli"), desc("confidence_ppm"),
            asc("antecedent"), asc("consequent"))
          .limit(25)
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        n AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_orders FROM li),
        it AS (SELECT p, CAST(count(*) AS BIGINT) AS n_item FROM li GROUP BY 1),
        pr AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
        rl AS (SELECT u AS antecedent, v AS consequent, w FROM pr
               UNION ALL SELECT v, u, w FROM pr)
        SELECT r.antecedent, r.consequent, r.w AS n_joint,
               CAST(r.w * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
               CAST(r.w * 1000000 // ia.n_item AS BIGINT) AS confidence_ppm,
               CAST(r.w * n.n_orders * 1000 // (ia.n_item * ib.n_item) AS BIGINT) AS lift_milli
        FROM rl r JOIN it ia ON ia.p = r.antecedent
                  JOIN it ib ON ib.p = r.consequent
                  CROSS JOIN n
        ORDER BY lift_milli DESC, confidence_ppm DESC, antecedent, consequent
        LIMIT 25"""),
      "graph analytics — market-basket ASSOCIATION RULES (Agrawal et " +
        "al. 1993) off the standing weighted co-purchase artifact: " +
        "both directed rules per frequent pair with exact integer " +
        "support ppm, confidence ppm, and lift milli (the PMI-class " +
        "ratio kept hash-portable, as p164 does for text). The basket " +
        "companion of g82's sequential patterns; inputs are artifact- " +
        "and marginal-sized — the corpus is never rescanned, and the " +
        "top-25 readout is a bounded heap"),

    Q("g84_triangle_list_store",
      (s, d) => {
        // the triangle family's standing artifact made DURABLE: the
        // canonical triangle list (g36/g55/g59's shared input) written
        // once as bucketed parquet via ArtifactStore and answered from
        // the store scan; full-content row hashes against an
        // independent oracle enumeration — a store that dropped,
        // duplicated, or corrupted one triangle fails
        TpchGraph.storedCopurchaseTriangles(s, d)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(conv(substring(md5(concat_ws("|",
              col("x1").cast("string"), col("x2").cast("string"),
              col("x3").cast("string"))), 1, 7), 16, 10)
              .cast("long")), lit(0L)).as("checksum"))
          .select(lit("copurchase_triangles").as("artifact"),
            col("n_rows"), col("checksum"))
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        tri AS (SELECT e1.u AS x1, e1.v AS x2, e2.v AS x3
                FROM e0 e1 JOIN e0 e2 ON e2.u = e1.u AND e1.v < e2.v
                           JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v)
        SELECT 'copurchase_triangles' AS artifact,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(x1 AS VARCHAR) || '|' || CAST(x2 AS VARCHAR) || '|' ||
                 CAST(x3 AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT) AS checksum
        FROM tri"""),
      "maintained artifacts — the k-truss family's standing triangle " +
        "list (x1 < x2 < x3, each triangle exactly once) as a durable " +
        "ArtifactStore table, bucketed by x1 (the peel's join key) with " +
        "source-fingerprint invalidation; the session memo form dies " +
        "with the JVM, this is what a deployment refreshes with the " +
        "fact table. Oracle: an independent id-ordered enumeration " +
        "(each triangle once as (e1=(a,b), e2=(a,c), e3=(b,c)), " +
        "a<b<c), full-content row hashes — not just counts"),

    Q("g85_coarsen_store",
      (s, d) => {
        // the multilevel arc's level-one products made DURABLE: the
        // contraction map superOf(x → sx) and the coarse multigraph
        // (cu, cv, w) — g67–g71's shared starting state — as bucketed
        // ArtifactStore tables, answered from the store scan with
        // full-content row hashes vs the oracle's independent
        // matching+contraction replay
        def sig(df: org.apache.spark.sql.DataFrame, name: String,
                cols: Seq[String]) =
          df.agg(count(lit(1)).as("n_rows"),
              coalesce(sum(conv(substring(md5(concat_ws("|",
                cols.map(c => col(c).cast("string")): _*)), 1, 7), 16, 10)
                .cast("long")), lit(0L)).as("checksum"))
            .select(lit(name).as("artifact"), col("n_rows"), col("checksum"))
        sig(TpchGraph.storedCoarsenSuperOf(s, d), "coarsen_l1_superof",
            Seq("x", "sx"))
          .unionByName(sig(TpchGraph.storedCoarsenCoarse(s, d),
            "coarsen_l1_coarse", Seq("cu", "cv", "w")))
          .orderBy("artifact")
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        wco AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*) AS w
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        ed0 AS MATERIALIZED (
          SELECT u, v, w,
                 lpad(CAST(1000000000000 - w AS VARCHAR), 13, '0')
                   || md5('hmatch:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pe
          FROM wco),
        vm1 AS (SELECT x, min(pe) AS mpe FROM (
            SELECT u AS x, pe FROM ed0 UNION ALL SELECT v AS x, pe FROM ed0) GROUP BY 1),
        sel1 AS MATERIALIZED (
          SELECT e.u, e.v, e.w FROM ed0 e
          JOIN vm1 a ON a.x = e.u JOIN vm1 b ON b.x = e.v
          WHERE e.pe = a.mpe AND e.pe = b.mpe),
        verts AS (SELECT u AS x FROM ed0 UNION SELECT v FROM ed0),
        cmap AS (SELECT u AS x, u AS sx FROM sel1 UNION ALL SELECT v, u FROM sel1),
        sup AS (SELECT v.x, coalesce(c.sx, v.x) AS sx
                FROM verts v LEFT JOIN cmap c ON c.x = v.x),
        rek AS (SELECT a.sx AS su, b.sx AS sv, e.w
                FROM ed0 e JOIN sup a ON a.x = e.u JOIN sup b ON b.x = e.v),
        coarse AS (SELECT least(su, sv) AS cu, greatest(su, sv) AS cv, sum(w) AS w
                   FROM rek WHERE su <> sv GROUP BY 1, 2)
        SELECT 'coarsen_l1_coarse' AS artifact,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(cu AS VARCHAR) || '|' || CAST(cv AS VARCHAR) || '|' ||
                 CAST(w AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT) AS checksum
        FROM coarse
        UNION ALL
        SELECT 'coarsen_l1_superof',
               CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(x AS VARCHAR) || '|' || CAST(sx AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT)
        FROM sup
        ORDER BY artifact"""),
      "maintained artifacts — the multilevel-partitioning arc's " +
        "level-one coarsening products (contraction map superOf " +
        "bucketed by x, coarse multigraph bucketed by cu) as durable " +
        "ArtifactStore tables with source-fingerprint invalidation; " +
        "the per-level scaffolding (sel/rek) is recomputed from these, " +
        "not stored. Oracle replays the heavy-edge matching and " +
        "contraction independently (g67's CTE chain) and compares " +
        "full-content row hashes"),

    Q("g86_triangle_list_refresh",
      (s, d) => {
        // the artifact-store REFRESH invariant, gated at LIST
        // granularity: the stored base triangle list plus the wave's
        // incrementally-attributed NEW triangles must equal the full
        // graph's triangle list content-exactly — stored ∪ delta-list
        // is what a refresh job writes back, and a mis-attribution
        // that cancels in g65's counts cannot cancel in corner hashes
        // LIST granularity stays merged at every measured point (sf4.0:
        // merged 33.8 vs split 39.1 s — the stored-list union amortizes
        // the merged checkpoint further), so no auto-pick exists here
        val refreshed = TpchGraph.storedTriwaveBaseTriangles(s, d)
          .unionByName(graft.plans.Triangles.incrementalTriangleList(
            TpchGraph.storedTriwaveBaseEdges(s, d),
            TpchGraph.triwaveDeltaEdges(s, d),
            baseMirrored = None))
        refreshed
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(conv(substring(md5(concat_ws("|",
              col("x1").cast("string"), col("x2").cast("string"),
              col("x3").cast("string"))), 1, 7), 16, 10)
              .cast("long")), lit(0L)).as("checksum"))
          .select(lit("refreshed_triangles").as("artifact"),
            col("n_rows"), col("checksum"))
      },
      Some(s"""
        WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM $liSql),
        e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        tri AS (SELECT e1.u AS x1, e1.v AS x2, e2.v AS x3
                FROM e0 e1 JOIN e0 e2 ON e2.u = e1.u AND e1.v < e2.v
                           JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v)
        SELECT 'refreshed_triangles' AS artifact,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(('0x' || substring(md5(
                 CAST(x1 AS VARCHAR) || '|' || CAST(x2 AS VARCHAR) || '|' ||
                 CAST(x3 AS VARCHAR)), 1, 7))::BIGINT), 0) AS BIGINT) AS checksum
        FROM tri"""),
      "maintained artifacts — the REFRESH lifecycle closed: " +
        "Triangles.incrementalTriangleList attributes each NEW " +
        "triangle of the arriving wave exactly once (maximal-delta-" +
        "edge, Σ min-degree over the delta — the g65 machinery at list " +
        "granularity) and the stored base list ∪ that delta must hash-" +
        "equal the full graph's independent oracle enumeration: " +
        "disjointness (stored triangles have no delta edge) + " +
        "completeness (every new triangle has one) proven by content, " +
        "which is exactly what a refresh job writes back to the store")
  )
}
