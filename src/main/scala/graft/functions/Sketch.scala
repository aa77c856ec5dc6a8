package graft.functions

import graft.core.Ckpt._
import graft.plans.TopKPerGroup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches (KMV / bottom-k; Beyer et al., "On
  * Synopses for Distinct-Value Estimation Under Multiset Operations",
  * SIGMOD '07).
  *
  * KMV keeps the k smallest distinct hash values of a set; the k-th
  * minimum h₍k₎ estimates cardinality as (k−1)·M ÷ h₍k₎ over hash space
  * M. The sketch is MERGEABLE — the bottom-k of a union is computable
  * from per-partition bottom-k's — which is exactly how the
  * [[TopKPerGroup]] operator executes it: per-partition heaps map-side,
  * one k-row-per-group merge at the reducer. At 100 TB that is the
  * difference between shuffling every distinct hash and shuffling k
  * rows per group.
  *
  * Everything is exact integer arithmetic over the repo's engine-portable
  * 28-bit [[Dedup.gramHash]] (first 7 hex chars of md5), so the estimate
  * is bit-identical on any engine with md5 — no HLL register/float drift
  * (Spark's own approx_count_distinct HLL++ can never pass a cross-engine
  * hash gate).
  */
object Sketch {

  /** Hash-space size of [[Dedup.gramHash]]: 7 hex chars = 28 bits. */
  val GramHashSpace: Long = 1L << 28

  /** Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms '05):
    * `depth` pairwise-independent hash rows × `width` counters; every
    * occurrence increments one counter per row; a point estimate is the
    * MIN over its row counters — always ≥ the true count, within
    * εN = (e/width)·N with probability 1 − e^−depth.
    *
    * Counters are plain integer sums, so the sketch is deterministic,
    * mergeable (sum of counter matrices), and engine-portable — unlike
    * order-dependent SpaceSaving/Misra-Gries summaries. The hash rows
    * reuse [[Dedup.permutationParams]] (splitmix constants over the
    * 28-bit gram hash mod 2³¹−1), so a SQL oracle can recompute the
    * matrix from 2·depth literal constants.
    *
    * Scale shape: ONE shuffle of (row, bucket) keys map-side-combined
    * down to depth×width rows — fixed-size state no matter the corpus,
    * the property that makes CMS the heavy-hitter structure for streams.
    */
  def countMin(df: DataFrame, value: Column, depth: Int = 4,
               width: Int = 2048, seed: Long = 42L): DataFrame = {
    require(depth >= 1 && width >= 2, s"invalid CMS shape ($depth x $width)")
    val params = Dedup.permutationParams(depth, seed)
    val rows = params.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("row"),
        expr(s"((${a}L * __h + ${b}L) % 2147483647L) % ${width}L").as("bucket"))
    }
    df.select(Dedup.gramHash(value).as("__h"))
      .select(explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes` (any columns + `value`) against a
    * [[countMin]] counter matrix built with the same shape and seed:
    * min over rows of the addressed counters (0 for never-touched
    * buckets). The counter matrix is broadcast — it is depth×width rows
    * by construction, regardless of corpus size.
    */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, value: Column,
                  depth: Int = 4, width: Int = 2048, seed: Long = 42L): DataFrame = {
    val params = Dedup.permutationParams(depth, seed)
    val rows = params.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("row"),
        expr(s"((${a}L * __h + ${b}L) % 2147483647L) % ${width}L").as("bucket"))
    }
    val addressed = probes.withColumn("__h", Dedup.gramHash(value))
      .select(col("*"), explode(array(rows: _*)).as("rb"))
      .select(col("*"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .drop("rb", "__h")
    val probeCols = probes.columns.map(col)
    addressed.join(broadcast(counters), Seq("row", "bucket"), "left")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** JOIN-SIZE estimation from two [[countMin]] counter matrices (same
    * shape + seed): `|A ⋈ B| ≈ min over rows of Σ_bucket cntA·cntB` —
    * the Cormode-Muthukrishnan inner-product estimate. Each row's dot
    * product is the true join size plus non-negative collision mass, so
    * the estimate is ALWAYS ≥ exact, within ε·N_A·N_B (ε = e/width) with
    * probability 1 − e^(−depth). This is the optimizer's pre-shuffle
    * cardinality probe: both inputs reduce to depth×width integers, so
    * estimating a 100 TB ⋈ 100 TB join size costs two corpus-linear
    * sketch passes and a constant-size combine — no join runs. A
    * SELF-inner-product estimates the self-join size Σc² (the F₂
    * moment), the skew statistic the salting thresholds derive from.
    *
    * Exact integer arithmetic throughout (ANSI mode makes a counter-
    * product overflow loud, not silent — at petabyte counts size the
    * width up or pre-scale, don't let counters reach 2³² each).
    */
  def cmsJoinSize(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.select(col("row"), col("bucket"), col("cnt").as("cntB")),
        Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("cnt") * col("cntB")).as("ip"))
      .agg(min(col("ip")).as("join_size_est"))

  /** Mergeable-histogram quantiles: equi-width integer bins (`floor` of
    * the value), cumulative counts, and the estimate for quantile q is
    * the first bin whose cumulative count reaches ⌈q·N⌉. The histogram
    * is a plain (group, bin) counting aggregate — map-side combinable,
    * mergeable by addition, bounded by the bin count — and every step is
    * integer-exact, so estimates are engine-portable. This is the
    * portable counterpart of `approx_percentile` (whose GK summary is
    * merge-order-dependent) at the cost of fixed absolute resolution
    * (one bin) instead of fixed rank error.
    *
    * Returns `(grp, q_permille, bin)` for each requested quantile, with
    * `bin` the floor of the estimated value.
    */
  def histogramQuantiles(df: DataFrame, group: Column, value: Column,
                         quantilesPermille: Seq[Int]): DataFrame = {
    require(quantilesPermille.nonEmpty &&
      quantilesPermille.forall(q => q >= 1 && q <= 1000),
      s"quantiles must be permille in [1,1000]: $quantilesPermille")
    val hist = df.select(group.as("grp"), floor(value).cast("long").as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total",
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window.partitionBy("grp")))
    // first bin whose cumulative count reaches ceil(q/1000 * total),
    // computed as (q*total + 999) div 1000 in exact longs
    cum.select(col("grp"), col("bin"), col("cum"), col("total"),
        explode(array(quantilesPermille.map(q => lit(q)): _*)).as("q_permille"))
      .filter(col("cum") * 1000 >= col("q_permille") * col("total"))
      .groupBy("grp", "q_permille").agg(min(col("bin")).as("bin"))
  }

  /** Per-group distinct-value estimate: `(group, n_exact, kmv_est)`.
    * `n_exact` is the exact distinct-HASH count (the ground truth the
    * estimate approximates; 28-bit collisions conflate both the same
    * way, keeping the pair self-consistent). Groups with fewer than `k`
    * distinct values report themselves exactly — the standard KMV
    * small-set rule. Expected relative error ≈ 1/√(k−2).
    */
  def kmvDistinct(df: DataFrame, group: Column, value: Column,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2: $k")
    val hashes = df.select(group.as("grp"), Dedup.gramHash(value).as("h")).distinct()
    // bottom-k per group = topK on the negated hash (custom operator:
    // per-partition heaps, k rows per group cross the shuffle)
    val bottomK = TopKPerGroup.topK(hashes, Seq(col("grp")), -col("h"), k)
    val kth = bottomK.groupBy("grp").agg(max(col("h")).as("hk"))
    val exact = hashes.groupBy("grp").agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(kth), "grp")
      .select(col("grp"), col("n_exact"),
        when(col("n_exact") < k, col("n_exact"))
          .otherwise(expr(s"${(k - 1).toLong * GramHashSpace}L div greatest(hk, 1L)"))
          .as("kmv_est"))
  }

  // --------------------------------------------- Misra-Gries heavy hitters

  /** One Misra-Gries step over a weighted item stream: `k` counters;
    * a tracked item adds its weight, an untracked one takes a free slot
    * or — when all `k` slots are full — every counter drops by the
    * smallest amount that frees a slot. Invariant (Misra & Gries '82):
    * any item with total weight > W/(k+1) over stream weight W is
    * tracked at the end, regardless of arrival order.
    */
  private def mgFold(k: Int, items: Iterator[(String, Long)])
      : collection.mutable.HashMap[String, Long] = {
    val m = collection.mutable.HashMap[String, Long]()
    items.foreach { case (t, w) =>
      if (m.contains(t)) m(t) += w
      else if (m.size < k) m(t) = w
      else {
        // decrement-all by the min counter (batched form of the unit
        // decrement: strictly fewer passes, same invariant)
        val d = math.min(m.valuesIterator.min, w)
        m.filterInPlace((_, c) => c > d)
        m.mapValuesInPlace((_, c) => c - d)
        if (w > d) m(t) = w - d
      }
    }
    m
  }

  /** Misra-Gries candidate set for items with frequency > N/(k+1):
    * per-partition k-counter summaries (one pass, O(k) memory), merged
    * on the driver by counter addition + the same decrement rule
    * (Agarwal et al., "Mergeable Summaries", PODS '12). The summary
    * CONTENTS depend on partition order, but the superset guarantee —
    * every item with frequency > N/(k+1) survives — holds for any
    * order and any merge tree, which is what [[heavyHitters]] builds on.
    *
    * Scale shape: ≤ k rows leave each partition (no shuffle at all —
    * the summaries are collected like centroids: parts × k tuples).
    */
  def misraGriesCandidates(df: DataFrame, value: Column, k: Int): Seq[String] = {
    require(k >= 1, s"Misra-Gries needs k >= 1: $k")
    import df.sparkSession.implicits._
    val partials = df.select(value.cast("string").as("t")).as[String]
      .mapPartitions(it => mgFold(k, it.map(_ -> 1L)).iterator)
      .collect()
    mgFold(k, partials.iterator).keys.toSeq.sorted
  }

  /** EXACT heavy hitters — items with frequency STRICTLY > N/k — found
    * without a full-vocabulary aggregate: a Misra-Gries candidate pass
    * (map-side only, ≤ parts·k tuples to the driver) produces a
    * guaranteed superset, then one filtered count confirms exactly.
    * Output `(token, n)` is a pure function of the input MULTISET
    * (candidate-set order-dependence cannot reach it: candidates ⊇ the
    * true answer for any order, and the exact filter discards the rest),
    * so the result is engine-portable and hash-stable.
    *
    * At 100 TB: the confirm aggregate shuffles only rows matching ≤ k
    * tokens (an in-filter pushed to the scan) — the full `GROUP BY t
    * HAVING` form shuffles the whole vocabulary instead.
    */
  def heavyHitters(df: DataFrame, value: Column, k: Int): DataFrame = {
    val items = df.select(value.cast("string").as("t"))
    val cands = misraGriesCandidates(items, col("t"), k)
    val total = items.agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    items.filter(col("t").isin(cands: _*))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .filter(col("n") * k > total)
      .select(col("t").as("token"), col("n"))
  }

  /** HyperLogLog registers (m = 64) per group: `(grp, bucket, m_j)`
    * where `bucket = h mod 64` over the [[Dedup.gramHash]] 28-bit hash
    * and `m_j` is the max rank (leading-zero count + 1 of the remaining
    * 22 bits) seen in the bucket. Rank uses `length(bin(x))` — the
    * exact-integer bit length both Spark and DuckDB compute identically
    * — never a float log2, whose last-ulp at powers of two would flip a
    * register cross-engine. Registers are max-merged: associative,
    * idempotent, commutative — the property that makes the sketch
    * mergeable across partitions, shards, AND arrival waves (the p114
    * streaming store) with the one-shot result guaranteed identical.
    * State is ≤ 64 rows per group no matter the corpus.
    */
  def hllRegisters(df: DataFrame, group: Column, value: Column): DataFrame = {
    val hashes = df.select(group.as("grp"), Dedup.gramHash(value).as("h")).distinct()
    hashes.select(col("grp"), (col("h") % 64).as("bucket"),
        expr("h div 64").as("r"))
      .withColumn("m_j",
        when(col("r") === 0, lit(23)).otherwise(lit(23) - length(bin(col("r")))))
      .groupBy("grp", "bucket").agg(max(col("m_j")).as("m_j"))
  }

  /** HLL estimate from [[hllRegisters]] (Flajolet et al., AofA '07,
    * m = 64, α₆₄ = 0.709): `raw = α·m²/Σ2^−M_j` with the small-range
    * linear-counting correction `m·ln(m/V)` when raw ≤ 2.5m and V > 0
    * zero registers remain. Output `(grp, n_buckets, reg_checksum,
    * hll_est_micro)` — the register checksum pins the sketch state
    * itself, and the estimate is integer micros. Float hygiene: every
    * 2^−M_j is an exact dyadic double and partial sums stay below 2^29
    * ulp-free, so the harmonic sum is EXACT regardless of aggregation
    * order; only ln/division carry last-ulp noise, absorbed by the
    * micro rounding.
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    regs.groupBy("grp").agg(
        count(lit(1)).cast("int").as("n_buckets"),
        sum(expr("m_j * (bucket + 1)")).cast("long").as("reg_checksum"),
        sum(pow(lit(2.0), -col("m_j"))).as("s_obs"))
      .withColumn("v", lit(64) - col("n_buckets"))
      .withColumn("raw",
        lit(0.709 * 4096.0) / (col("v").cast("double") + col("s_obs")))
      .withColumn("hll_est_micro",
        round(when(col("v") > 0 && col("raw") <= 160.0,
            lit(64.0) * log(lit(64.0) / col("v").cast("double")))
          .otherwise(col("raw")) * 1000000.0).cast("long"))
      .select(col("grp"), col("n_buckets"), col("reg_checksum"), col("hll_est_micro"))
  }

  /** Pairwise GROUP-level Jaccard similarity matrix — the corpus-
    * governance view ("which sources duplicate each other wholesale")
    * one level above the per-document dedup family: for every pair of
    * groups, the single-hash MinHash estimate
    * `|bottom-k(A∪B) ∩ A ∩ B| / k` (Broder; one k-row sketch per group
    * is ALL that crosses the network at 100 TB) next to the exact
    * Jaccard over the full distinct-hash sets as the in-engine audit
    * (the p91/p94 measure-don't-guess pattern — at scale the exact twin
    * runs on a sample or not at all).
    *
    * Correctness of the membership trick: `h ∈ bottom-k(A∪B) ∧ h ∈ A ⇒
    * h ∈ bottom-k(A)` (h is ≤ the union's kth smallest ≤ A's kth
    * smallest), so the estimator needs only the per-group bottom-k
    * sets, and bottom-k(A∪B) is the bottom-k of their union. Exact
    * integers throughout; permille by integer division.
    *
    * Scale shape: one distinct-hash pass (map-side combined), bottom-k
    * via the bounded-heap operator (k rows per group cross the
    * shuffle), then ALL pair work happens on S² · k rows (S = #groups,
    * tiny); the exact twin's pair fan-out is S per hash — vocab-sized,
    * not corpus-sized, and dropped at true scale.
    */
  def minhashSimilarityMatrix(df: DataFrame, group: Column, value: Column,
                              k: Int = 64): DataFrame = {
    require(k >= 2, s"minhashSimilarityMatrix needs k >= 2: $k")
    val hashes = df.select(group.as("grp"), Dedup.gramHash(value).as("h"))
      .distinct().lckpt()
    val bottom = TopKPerGroup.topK(hashes, Seq(col("grp")), -col("h"), k)
    val groups = hashes.select("grp").distinct()
    val pairs = groups.select(col("grp").as("ga"))
      .crossJoin(groups.select(col("grp").as("gb")))
      .filter(col("ga") < col("gb"))
    def sideTag(memb: DataFrame) = {
      val aSide = pairs.join(memb.withColumnRenamed("grp", "ga"), "ga")
        .select(col("ga"), col("gb"), col("h"), lit(1).as("in_a"), lit(0).as("in_b"))
      val bSide = pairs.join(memb.withColumnRenamed("grp", "gb"), "gb")
        .select(col("ga"), col("gb"), col("h"), lit(0).as("in_a"), lit(1).as("in_b"))
      aSide.unionByName(bSide)
        .groupBy("ga", "gb", "h")
        .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    }
    // sketch estimate over the ≤2k-row per-pair union of bottom-k sets
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ga", "gb").orderBy("h")
    val est = sideTag(bottom)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("k_used"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_shared"))
    // exact audit over the full distinct-hash sets
    val exact = sideTag(hashes)
      .groupBy("ga", "gb")
      .agg(sum(col("in_a") * col("in_b")).cast("long").as("n_inter"),
        count(lit(1)).as("n_union"))
    est.join(exact, Seq("ga", "gb"))
      .select(col("ga").as("source_a"), col("gb").as("source_b"),
        col("k_used"), col("n_shared"),
        expr("n_shared * 1000L div k_used").as("jacc_est_permille"),
        col("n_inter"), col("n_union"),
        expr("n_inter * 1000L div n_union").as("jacc_permille"))
  }
}
