package graft.plans

import graft.core.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Newman-Girvan modularity of a vertex labeling over an undirected
  * graph — the score community detection is judged by (and the objective
  * Louvain-style methods greedily climb):
  * `Q = Σ_c [e_c/m − (d_c/2m)²] = (4m·e_int − Σ_c d_c²) / 4m²`
  * with `m` the edge count, `e_int` the intra-community edge count and
  * `d_c` the total degree of community `c`. Pairs with
  * [[LabelPropagation]] (detect) the way g68's cut pairs with g67's
  * coarsening (partition): detect, then SCORE.
  *
  * Exactness: every input to Q is an exact integer; the single division
  * is performed once, in decimal(38,0) arithmetic (HUGEINT on the oracle
  * side — `Σd_c²` reaches `4m²`, past a long at ~10⁹ edges), with
  * round-half-up emitted on the 10⁻⁶ grid as
  * `sign(num) · ((2·10⁶·|num| + den) div 2·den)` — floor and
  * truncate-toward-zero agree on non-negative operands, so Spark's `div`
  * and the oracle's `//` produce the same long anywhere.
  *
  * Scale shape: one canonicalization pass over the edges, a map-side-
  * combined degree count, two label hash joins (per endpoint) for the
  * intra count, one per-community degree rollup — all corpus-linear,
  * no windows; the modularity arithmetic runs on one row.
  */
object Modularity {

  /** Score `labels` `(key, label)` over undirected `edges` `(u, v)`
    * (any orientation; canonicalized, deduped, self-loops dropped).
    * Vertices missing from `labels` would silently leave the score —
    * they are counted and reported (`n_unlabeled`) so a partial
    * labeling is visible, not silent.
    *
    * Output: one row `(m, n_vertices, n_unlabeled, n_communities,
    * internal_edges, q_micro)` — exact integers.
    */
  def score(edges: DataFrame, labels: DataFrame): DataFrame = {
    val ce = graft.core.IterPlan.simpleUndirected(edges).lckpt()
    val lab = labels.select(col("key"), col("label"))
    val verts = ce.select(col("u").as("x")).unionAll(ce.select(col("v").as("x")))
    val deg = verts.groupBy("x").agg(count(lit(1)).as("d"))
    val degLab = deg.join(lab.withColumnRenamed("key", "x"), Seq("x"), "left")
    val dcAgg = degLab.filter(col("label").isNotNull)
      .groupBy("label").agg(sum(col("d")).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        coalesce(sum(expr("CAST(dc AS DECIMAL(38,0)) * dc")),
          lit(0).cast("decimal(38,0)")).as("dc_sq"))
    val intr = ce
      .join(lab.select(col("key").as("u"), col("label").as("lu")), Seq("u"), "left")
      .join(lab.select(col("key").as("v"), col("label").as("lv")), Seq("v"), "left")
      .agg(coalesce(sum(when(col("lu").isNotNull && col("lu") === col("lv"), 1L)
        .otherwise(0L)), lit(0L)).as("internal_edges"))
    val counts = ce.agg(count(lit(1)).as("m"))
      .crossJoin(degLab.agg(count(lit(1)).as("n_vertices"),
        coalesce(sum(when(col("label").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_unlabeled")))
      .crossJoin(dcAgg).crossJoin(intr)
    counts
      .withColumn("num",
        expr("4 * CAST(m AS DECIMAL(38,0)) * internal_edges - dc_sq"))
      .withColumn("den", expr("4 * CAST(m AS DECIMAL(38,0)) * m"))
      .select(col("m"), col("n_vertices"), col("n_unlabeled"),
        col("n_communities"), col("internal_edges"),
        when(col("m") === 0L, lit(0L)).otherwise(
          when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(2000000 * abs(num) + den) div (2 * den)")).as("q_micro"))
  }
}
