package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperANF approximate neighborhood function (Boldi, Rosa & Vigna,
  * WWW '11; the HyperLogLog-register successor of Palmer et al.'s ANF) —
  * the scale answer to exact ball counting: per vertex keep an HLL
  * sketch of the set of vertices within distance r, and one round of
  * element-wise register MAX over neighbors advances every ball from
  * radius r to r+1 simultaneously. N(r) (the number of reachable pairs
  * at distance ≤ r) drives effective-diameter and connectivity
  * estimates; computing it exactly is the S·V multi-source-BFS product
  * SCALE.md bans at 100 TB, while this needs O(rounds) shuffles of
  * V × m small integers.
  *
  * Register layout: m = 16 registers as 16 INT COLUMNS, so the
  * per-round element-wise max is 16 plain map-side-combined `max()`
  * aggregates — no arrays, no explode, whole-stage codegen throughout.
  * (Production tuning raises m by adding columns; error ≈ 1.04/√m,
  * i.e. ~26 % at m = 16 — the operator is an estimator by design and
  * is audited against the exact g56 closeness family at test scale.)
  *
  * Cross-engine determinism: the element hash is the 60-bit md5 prefix
  * (the repo convention); bucket = low 4 bits, and the register rank is
  * `57 − length(bin(w))` over the remaining 56-bit word (`bin` renders
  * minimal binary identically on Spark and DuckDB; w = 0 → 57). The
  * per-vertex estimate is a FIXED expression tree — Z sums exact powers
  * of two left-to-right, the m = 16 bias constant and the
  * linear-counting `m·ln(m/V)` table are spliced as identical double
  * literals into both engines — and the trajectory aggregates
  * `round(est·10⁶)` as exact longs, so a DuckDB oracle replays every
  * round bit for bit. No early exit: rounds are a fixed budget (the
  * radius is the parameter), so no fixpoint convention is needed.
  *
  * Output: one row per round 0..maxRounds:
  * `(round, sum_registers, nf_micro)` — the integer register mass
  * (monotone, a convergence witness) and the estimated neighborhood
  * function N(round) in micro-units.
  */
object HyperAnf {

  private[graft] val M = 16
  private[graft] val Alpha = 0.673 // HLL bias constant for m = 16

  /** `m·ln(m/V)` linear-counting table, spliced as literals into both
    * the Spark plan and the SQL oracle (libm `ln` is NOT cross-engine
    * portable; 16 precomputed doubles are).
    */
  private[graft] def linearCountingTable: Seq[(Int, Double)] =
    (1 to M).map(v => v -> M * math.log(M.toDouble / v))

  /** Per-vertex initial registers: rank in the hashed bucket, 0
    * elsewhere. `vertices` must have a single column `x`.
    */
  private[graft] def initRegisters(vertices: DataFrame, salt: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(salt), col("x").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val staged = vertices.select(col("x"),
      h.bitwiseAND(lit((M - 1).toLong)).as("bkt"), shiftright(h, 4).as("w"))
    val rank = when(col("w") === 0L, lit(57))
      .otherwise(lit(57) - length(bin(col("w")))).cast("int")
    val regs = (0 until M).map(j =>
      when(col("bkt") === j.toLong, rank).otherwise(lit(0)).as(s"rg$j"))
    staged.select(col("x") +: regs: _*)
  }

  /** One HyperANF round: every vertex's registers become the
    * element-wise max over its closed neighborhood (`adjSelf` must
    * include the self-loops). One hash join + 16 map-side-combined
    * maxes — exposed for PlanAuditSpec.
    */
  private[graft] def roundMax(adjSelf: DataFrame, regs: DataFrame): DataFrame = {
    val regsY = regs.withColumnRenamed("x", "y")
    adjSelf.join(regsY, "y")
      .groupBy("x")
      .agg(max(col("rg0")).as("rg0"),
        (1 until M).map(j => max(col(s"rg$j")).as(s"rg$j")): _*)
  }

  /** The per-vertex HLL estimate as a fixed expression tree. */
  private[graft] def estimate(regs: Seq[Column]): Column = {
    val z = regs.map(r =>
        lit(1.0) / call_function("shiftleft", lit(1L), r).cast("double"))
      .reduceLeft(_ + _)
    val vz = regs.map(r => when(r === 0, lit(1)).otherwise(lit(0))).reduceLeft(_ + _)
    val raw = lit(Alpha * M * M) / z
    val lc = linearCountingTable.foldRight(lit(0.0): Column) {
      case ((v, e), acc) => when(vz === v, lit(e)).otherwise(acc)
    }
    when(raw <= lit(2.5 * M) && vz > 0, lc).otherwise(raw)
  }

  /** `edges` in any orientation (canonicalized + deduped internally;
    * self-loops dropped, then re-added as the closed-neighborhood
    * identity rows the register max needs).
    */
  def trajectory(edges: DataFrame, maxRounds: Int,
                 salt: String = "anf:"): DataFrame = {
    import graft.core.IterPlan.{IterDatasetOps, simpleUndirected}
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._

    val und = simpleUndirected(edges)
    val adj = und.select(col("u").as("x"), col("v").as("y"))
      .unionAll(und.select(col("v").as("x"), col("u").as("y")))
    val vertices = adj.select(col("x")).distinct()
    // keyed by the round join's key: every roundMax join is then
    // zero-exchange off the checkpoint leaf's partitioning — the union had
    // no usable partitioning anyway, so this adds nothing over the
    // Exchange each round previously paid once
    val adjSelf = adj.unionAll(vertices.select(col("x"), col("x").as("y")))
      .keyed("y")
      .lckpt()

    val regCols = (0 until M).map(j => col(s"rg$j"))
    val sumReg = regCols.map(_.cast("long")).reduceLeft(_ + _)
    val nfTerm = org.apache.spark.sql.functions.round(estimate(regCols) * lit(1e6))
      .cast("long")
    def statsRow(regs: DataFrame, r: Int): (Int, Long, Long) = {
      val row = regs.agg(sum(sumReg).as("s"), sum(nfTerm).as("nf")).head()
      (r, row.getLong(0), row.getLong(1))
    }

    var regs = initRegisters(vertices, salt).lckpt()
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    rows += statsRow(regs, 0)
    var r = 0
    while (r < maxRounds) {
      r += 1
      val next = roundMax(adjSelf, regs)
      regs = next.lckpt()
      graft.core.IterPlan.debugDump(s"hyperanf round $r", next)
      rows += statsRow(regs, r)
    }
    rows.toSeq.toDF("round", "sum_registers", "nf_micro")
  }
}
