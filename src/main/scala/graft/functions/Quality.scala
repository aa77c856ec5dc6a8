package graft.functions

import graft.core.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composite document-quality gating: the rule-based corpus filter every
  * large-scale text pipeline runs before dedup/selection (the pattern
  * popularized by Gopher's quality heuristics and C4's cleanup rules —
  * length bounds, mean-word-length bounds, symbol ratios, stopword
  * presence).
  *
  * Entirely map-side: one [[TextOps.qualitySignals]] pass (a single
  * native char-scan expression) fans out into per-rule booleans and a
  * conjunction, all inside the same whole-stage-codegen stage. No
  * shuffle, no UDF — at 100 TB the gate is a free rider on whatever scan
  * feeds it, and Catalyst pushes a `passes`-filter straight onto the
  * parquet scan's generated predicate.
  */
object Quality {

  /** Per-rule thresholds for [[gate]]. Defaults follow the published
    * heuristics (word-count window, mean-word-length window, symbol and
    * case ceilings, a stopword floor) scaled to this corpus.
    */
  final case class GateRules(
      minTokens: Int = 30,
      maxTokens: Int = 80,
      minMeanTokenLen: Double = 3.0,
      maxMeanTokenLen: Double = 6.0,
      minStopwordRatio: Double = 0.03,
      maxPunctRatio: Double = 0.1,
      maxUpperRatio: Double = 0.3)

  /** Rule flags + conjunction over a [[TextOps.qualitySignals]] struct.
    * Thresholds compare against the signals' 4-dp-rounded ratios, so the
    * decision is reproducible across engines (raw last-ulp ratios are
    * not). Returns a struct `(r_len, r_wordlen, r_stop, r_punct, r_upper,
    * passes)`.
    */
  def gateFlags(q: Column, rules: GateRules = GateRules()): Column = {
    val rLen = q.getField("n_tokens").between(rules.minTokens, rules.maxTokens)
    val rWordLen = q.getField("mean_token_len")
      .between(rules.minMeanTokenLen, rules.maxMeanTokenLen)
    val rStop = q.getField("stopword_ratio") >= rules.minStopwordRatio
    val rPunct = q.getField("punct_ratio") <= rules.maxPunctRatio
    val rUpper = q.getField("upper_ratio") <= rules.maxUpperRatio
    struct(
      rLen.as("r_len"),
      rWordLen.as("r_wordlen"),
      rStop.as("r_stop"),
      rPunct.as("r_punct"),
      rUpper.as("r_upper"),
      (rLen && rWordLen && rStop && rPunct && rUpper).as("passes"))
  }

  /** One-call form: signals + flags from the raw text column. */
  def gate(text: Column, stopwords: Seq[String] = TextOps.defaultStopwords,
           rules: GateRules = GateRules()): Column =
    gateFlags(TextOps.qualitySignals(text, stopwords), rules)

  /** Cross-source QUANTILE NORMALIZATION of an integer score — the
    * distribution-matching calibration one step past p105's per-source
    * thresholds: a score of X from a verbose source and a score of X
    * from a terse one mean different things, so each document's score
    * maps to the GLOBAL score at its within-source percentile. After
    * normalization every source has (up to granularity) the global
    * distribution, and one corpus-wide threshold means the same thing
    * everywhere — the standard preprocessing trick (quantile
    * normalization, genomics/batch-effect removal) applied to corpus
    * quality scores.
    *
    * Exact-integer construction: within-source permille `p = 1000·r
    * div n` (rank by (score, id) — deterministic under ties); the
    * global quantile at `p` is the FIRST score value whose cumulative
    * count reaches `p·N` permille — the p70 histogram method, so the
    * global side is one map-side-combined value-histogram + a bounded
    * cumulative window, never a corpus-wide sort. The (permille →
    * global score) lookup is ≤1000 rows and broadcasts. Output: one
    * row per source with exact integer summary stats of the
    * normalized distribution.
    */
  /** Per-source LOWER MEDIAN of an integral column, derived from a
    * value HISTOGRAM: group to (source, value, count), one cumulative
    * window over DISTINCT values per source, pick the smallest value
    * whose cumulative count reaches rank `(n+1) div 2`. The window is
    * bounded by #distinct values, never corpus-sized — the p70/p127
    * discipline — and the result is an exact integer.
    */
  private def lowerMedianBy(in: DataFrame, valCol: String,
                            out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = in.groupBy("source", valCol).agg(count(lit(1)).as("cnt"))
    val cumW = Window.partitionBy("source").orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val nW = Window.partitionBy("source")
    hist.select(col("source"), col(valCol),
        sum("cnt").over(cumW).as("cum"), sum("cnt").over(nW).as("n"))
      .filter(expr("cum >= (n + 1) div 2"))
      .groupBy("source").agg(min(valCol).cast("long").as(out))
  }

  /** MAD outlier gate — the ROBUST twin of the k-sigma rule (p59):
    * flag docs whose integral quality value sits more than `k` median-
    * absolute-deviations from the per-source median. Mean/stddev gates
    * are exactly what heavy-tailed corpus statistics break (one 10 MB
    * boilerplate page drags the mean past half the outliers it should
    * catch); median and MAD have a 50% breakdown point, and on integral
    * inputs both are EXACT INTEGERS here — no float percentile
    * estimate, so the gate hash-reproduces anywhere.
    *
    * Degenerate case, documented: when MAD = 0 (a majority of the
    * source at one exact value) the rule `dev > k·0` flags every
    * deviation — the strict-but-well-defined reading.
    *
    * Scale shape: two histogram passes (values, then deviations), each
    * a map-side-combined aggregate plus a cumulative window over
    * DISTINCT values per source (bounded, never corpus-wide); medians
    * broadcast back as k-row tables.
    */
  def madOutlierGate(df: DataFrame, id: Column, source: Column,
                     value: Column, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val base = df.select(id.as("doc_id"), source.as("source"),
      value.cast("long").as("v"))
    val med = lowerMedianBy(base, "v", "med")
    val dev = base.join(broadcast(med), "source")
      .select(col("source"), col("doc_id"), col("med"),
        abs(col("v") - col("med")).as("dev"))
    val mad = lowerMedianBy(dev, "dev", "mad")
    dev.join(broadcast(mad), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max(col("med")).as("median_v"),
        max(col("mad")).as("mad_v"),
        sum(when(col("dev") > lit(k.toLong) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ppm", expr("n_outliers * 1000000 div n_docs"))
      .orderBy("source")
  }

  def quantileNormalize(df: DataFrame, id: Column, source: Column,
                        score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(id.as("doc_id"), source.as("source"),
      score.cast("long").as("score"))
    val n = Window.partitionBy("source")
    val rk = Window.partitionBy("source").orderBy("score", "doc_id")
    val ranked = base
      .select(col("doc_id"), col("source"), col("score"),
        row_number().over(rk).as("r"), count(lit(1)).over(n).as("n_src"))
      .withColumn("p", expr("r * 1000L div n_src"))
    // global value histogram (value-keyed bins — score is integral) with
    // cumulative counts; bounded by #distinct scores
    val hist = base.groupBy("score").agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.select(col("score"), sum("cnt").over(cumW).as("cum"),
      sum("cnt").over(Window.partitionBy()).as("n_total"))
    val ps = ranked.select("p").distinct()
    val lookup = broadcast(
      ps.crossJoin(cum)
        .filter(col("cum") * 1000 >= col("p") * col("n_total"))
        .groupBy("p").agg(min("score").as("norm")))
    ranked.join(lookup, "p")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("norm").cast("long").as("norm_sum"),
        min("norm").as("norm_min"),
        max(when(col("r") === expr("(n_src + 1L) div 2L"), col("norm")))
          .as("norm_med"),
        max("norm").as("norm_max"))
  }

  /** INTER-RATER AGREEMENT (Cohen's κ) between two integer label
    * columns — the labeling-QA gate every supervised-data pipeline
    * runs before trusting annotations (two human raters, or
    * model-vs-heuristic as the drift check): raw agreement alone is
    * inflated by skewed label marginals, κ subtracts the agreement two
    * INDEPENDENT raters with these marginals would reach by chance,
    *   κ = (p_o − p_e) / (1 − p_e),   p_e = Σ_k p_A(k)·p_B(k).
    *
    * Exact integer arithmetic throughout (the repo's oracle
    * discipline): p_o and p_e as ppm by floor division, κ as ppm with
    * EXPLICIT truncation-toward-zero on a possibly negative numerator
    * (worse-than-chance raters yield κ < 0) — `CASE`d so Spark's `div`
    * and the oracle's `//` agree on sign handling. The p_e numerator
    * is Σ rowTot·colTot·10⁶ ≤ n²·10⁶: exact in a long to n ≈ 3×10⁶
    * per label pair, and ANSI mode fails LOUDLY past that rather than
    * wrapping.
    *
    * Output: the confusion matrix `(label_a, label_b, n_docs)` with
    * the global `(n_total, po_ppm, pe_ppm, kappa_ppm)` repeated per
    * row (the g68 cut_weight convention — cells and verdict in one
    * gate-checkable table). Shape: one map-side-combined count to
    * label²-sized cells, marginals and κ on those cells only — the
    * corpus is touched exactly once, nothing downstream exceeds the
    * label-pair cardinality.
    */
  def raterAgreement(df: DataFrame, labelA: Column, labelB: Column): DataFrame =
    raterVerdict(raterCells(df, labelA, labelB))

  /** The MAINTAINED artifact behind [[raterAgreement]]: label-pair
    * cells. Counts are commutative sums, so per-wave cells merge by
    * re-aggregation and the verdict from a wave-merged store is
    * bit-identical to the one-shot answer (the p71/p101/p114/p128
    * incremental-family discipline) — fixed label²-sized state
    * regardless of annotation volume.
    */
  def raterCells(df: DataFrame, labelA: Column, labelB: Column): DataFrame =
    df.select(labelA.cast("long").as("label_a"), labelB.cast("long").as("label_b"))
      .groupBy("label_a", "label_b").agg(count(lit(1)).as("n_docs"))

  /** Merge per-wave cells into the standing store (associative sums). */
  def mergeRaterCells(store: DataFrame, wave: DataFrame): DataFrame =
    store.unionByName(wave).groupBy("label_a", "label_b")
      .agg(sum(col("n_docs")).as("n_docs"))

  /** The κ readout over a `(label_a, label_b, n_docs)` cell table. */
  def raterVerdict(cells0: DataFrame): DataFrame = {
    val cells = cells0.lckpt()
    val rowTot = cells.groupBy(col("label_a").as("k")).agg(sum("n_docs").as("ra"))
    val colTot = cells.groupBy(col("label_b").as("k")).agg(sum("n_docs").as("rb"))
    val stats = cells
      .agg(sum("n_docs").as("n_total"),
        coalesce(sum(when(col("label_a") === col("label_b"), col("n_docs"))),
          lit(0L)).as("agree"))
      .crossJoin(rowTot.join(colTot, "k")
        .agg(coalesce(sum(expr("ra * rb")), lit(0L)).as("pesum")))
      .select(col("n_total"),
        expr("agree * 1000000 div n_total").as("po_ppm"),
        expr("pesum * 1000000 div (n_total * n_total)").as("pe_ppm"))
      .select(col("n_total"), col("po_ppm"), col("pe_ppm"),
        when(lit(1000000L) - col("pe_ppm") <= 0, lit(0L))
          .when(col("po_ppm") >= col("pe_ppm"),
            expr("(po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)"))
          .otherwise(-expr("(pe_ppm - po_ppm) * 1000000 div (1000000 - pe_ppm)"))
          .as("kappa_ppm"))
    cells.crossJoin(broadcast(stats))
  }
}
