package graft.functions

import graft.core.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling and dataset splitting for
  * training-data pipelines.
  *
  * `rand()`-based sampling is non-reproducible across retries, partitions
  * and engines; hash sampling keys every decision off a stable id, so
  * membership is a pure function of the row — re-running the pipeline,
  * re-partitioning the data, or recomputing a lost partition yields the
  * same sample (critical for train/test splits at 100 TB, where partial
  * recomputation is routine). The hash is md5-derived so any engine can
  * reproduce the exact sample (the DuckDB oracle does).
  */
object Sampling {

  /** Water-filling token-budget allocation — the mixture PLANNING step
    * that precedes the samplers: given per-stratum token masses and a
    * global budget B, find the unique cap C with
    * `Σ min(n_i, C) ≤ B < Σ min(n_i, C+1)` and allocate
    * `min(n_i, C)` to each stratum. Small strata keep everything, large
    * strata flatten to the cap — the standard way a 100 TB corpus's
    * over-represented sources are equalized into a training mixture
    * without starving the tail (the cap IS the water level).
    *
    * Exact integer derivation, no iteration: sort strata by mass
    * ascending; for segment k (strata k..S capped, 1..k−1 whole), the
    * capping segment is the FIRST k where `prefix_{k−1} + n_k·r_k > B`
    * (r_k = S−k+1 strata remaining); then `C = (B − prefix_{k−1}) div
    * r_k`. No such k ⇒ budget covers everything ⇒ no cap. Every
    * quantity is a long, so the plan reproduces bit-for-bit on any
    * engine — a float water level would drift at the boundary.
    *
    * Scale shape: one map-side-combined mass aggregate (stratum-sized),
    * then windows over the STRATUM table only — the global sort touches
    * one row per stratum, never the corpus (pinned global-window rule:
    * k-row post-aggregate plans only). `budget = total·num div den`
    * derives from the same pass.
    */
  def waterfillAllocation(df: DataFrame, stratum: Column, tokens: Column,
                          budgetNum: Long, budgetDen: Long): DataFrame =
    waterfillFromMasses(
      df.groupBy(stratum.as("stratum")).agg(sum(tokens).cast("long").as("n")),
      budgetNum, budgetDen)

  /** [[waterfillAllocation]] from a pre-aggregated `(stratum, n)` mass
    * table — the form incremental maintenance uses (per-wave masses
    * merge by an associative sum into a strata-sized store; the
    * allocation then recomputes from the store in O(strata)).
    */
  def waterfillFromMasses(masses: DataFrame,
                          budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"waterfillAllocation needs a valid budget fraction: $budgetNum/$budgetDen")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("n"), col("stratum"))
    val all = Window.partitionBy()
    val staged = masses.select(col("stratum"), col("n"),
        coalesce(sum(col("n")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("prefix"),
        row_number().over(ord).as("k"),
        count(lit(1)).over(all).as("s_total"),
        sum(col("n")).over(all).as("total"))
      .withColumn("budget", expr(s"total * ${budgetNum}L div ${budgetDen}L"))
      .withColumn("r", col("s_total") - col("k") + 1)
    val capRow = staged
      .filter(col("prefix") + col("n") * col("r") > col("budget"))
      .agg(min(struct(col("k"), col("prefix"), col("r"), col("budget"))).as("seg"))
      .select(when(col("seg").isNotNull,
        expr("(seg.budget - seg.prefix) div seg.r")).as("cap"))
    staged.crossJoin(capRow)
      .select(col("stratum"), col("n").as("n_tokens"),
        when(col("cap").isNull, col("n")).otherwise(least(col("n"), col("cap")))
          .as("allocated"),
        (col("cap").isNotNull && col("n") > col("cap")).as("capped"),
        col("cap").as("water_level"), col("budget"))
  }

  /** Mixture EPOCH planning under temperature sampling: how many times
    * each stratum repeats when the full token budget B = Σn_i is drawn
    * at weights `p_i ∝ n_i^α`, α = 1/2 — the repeat/cycling number a
    * mixture plan is judged by (4+ epochs of a low-resource language
    * measurably degrades it; the counterpart probability table for
    * general α is [[graft.functions.Corpus.temperatureMixture]]).
    * α = 1/2 is chosen for EXACTNESS, not just convention: `n^0.5` is a
    * single correctly-rounded IEEE sqrt (where libm `pow` drifts across
    * engines, the p119 lesson), corrected to the true INTEGER sqrt by
    * one neighbor-check — after which every downstream quantity is long
    * arithmetic that reproduces bit-for-bit anywhere, where the
    * general-α form necessarily rounds to a float grid.
    *
    * `weight_micro = round(10⁶·s_i/S)` and the per-stratum epoch count
    * `epochs_micro = round(B·weight_micro/n_i)` (how many times a
    * stratum repeats when the whole budget B = Σn_i is drawn at these
    * weights — the famous consequence: low-resource languages cycle)
    * use `(2a+b) div 2b` round-half-up, identical on both engines.
    * The one product that can outgrow a long (`B·weight_micro`, past
    * ~9·10¹² corpus tokens) is widened to decimal(38,0) — HUGEINT on
    * the oracle side — and `div`'d back to an exact long, so the
    * arithmetic stays integer-exact at any realistic corpus size.
    *
    * Scale shape: one map-side-combined mass aggregate (stratum-sized),
    * then a k-row crossJoin with the two global totals — the corpus is
    * touched once, the mixture math runs on k rows.
    */
  def mixtureEpochs(df: DataFrame, stratum: Column, tokens: Column): DataFrame =
    mixtureEpochsFromMasses(
      df.groupBy(stratum.as("stratum")).agg(sum(tokens).cast("long").as("n")))

  /** [[mixtureEpochs]] from a pre-aggregated `(stratum, n)` mass
    * table (the incremental-maintenance form, as [[waterfillFromMasses]]).
    */
  def mixtureEpochsFromMasses(masses: DataFrame): DataFrame = {
    val n = col("n")
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    // exact integer sqrt: double sqrt is correctly rounded, so the truth
    // is within one of floor(sqrt) — one neighbor check settles it
    val isqrt = when(n <= 0L, lit(0L))
      .when((s0 + lit(1L)) * (s0 + lit(1L)) <= n, s0 + lit(1L))
      .when(s0 * s0 > n, s0 - lit(1L))
      .otherwise(s0)
    val staged = masses.select(col("stratum"), n, isqrt.as("s"))
    val glob = staged.agg(
      coalesce(sum(col("s")), lit(0L)).as("s_total"),
      coalesce(sum(col("n")), lit(0L)).as("b_total"))
    staged.crossJoin(glob)
      .withColumn("weight_micro",
        when(col("s_total") > 0L, expr("(2000000 * s + s_total) div (2 * s_total)"))
          .otherwise(lit(0L)))
      .withColumn("epochs_micro",
        when(n > 0L,
          expr("(2 * CAST(b_total AS DECIMAL(38,0)) * weight_micro + n) div (2 * n)"))
          .otherwise(lit(0L)))
      .select(col("stratum"), n.as("n_tokens"), col("s").as("sqrt_tokens"),
        col("weight_micro"), col("epochs_micro"))
  }

  /** Poisson(1) inverse-CDF thresholds on the 28-bit hash grid:
    * `weight = #{j : u ≥ T_j}` gives Poisson(1) replicate weights
    * (tail mass ≥ 6 lumped into 6) from one uniform integer — exact
    * integer compares, no floats. */
  private val PoissonThresholds: Seq[Long] =
    Seq(98751885L, 197503771L, 246879713L, 263338361L, 267453023L, 268275955L)

  /** Deterministic POISSON BOOTSTRAP over the corpus — error bars on
    * corpus statistics without resampling passes (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", the standard
    * one-pass bootstrap at web scale): each of `k` replicates weights
    * every document by a Poisson(1) draw, approximating multinomial
    * resampling; the spread of the replicate totals IS the sampling
    * variance of the statistic.
    *
    * Determinism: the draw is the Poisson inverse-CDF applied to the
    * 28-bit md5 integer of `salt:replicate:id` via SIX literal integer
    * thresholds ([[PoissonThresholds]]) — weight is a pure function of
    * (replicate, id), so retries, re-partitions and other engines
    * reproduce every replicate exactly. Variance is emitted as the
    * EXACT scaled numerator `sse = k·ΣX² − (ΣX)²` (= k²·Σ(X−mean)²
    * content, all integer; the division by k²(k−1) is the consumer's
    * one float op) — computed in decimal38/HUGEINT and cast back, so
    * an overflow fails loudly rather than drifting.
    *
    * Scale shape: one corpus pass expanded ×k replicate rows that
    * map-side-combine straight down to k groups — the shuffle carries
    * k rows per partition regardless of corpus size.
    *
    * Output: `k` rows `(replicate, docs_eff, tokens_eff,
    * sse_scaled_docs, sse_scaled_tokens)` (the sse columns repeat the
    * two scalars). All exact integers.
    */
  def bootstrapReplicates(df: DataFrame, id: Column, tokens: Column,
                          k: Int = 16, salt: String = "boot:"): DataFrame = {
    require(k >= 2, s"bootstrap needs k >= 2 replicates: $k")
    val base = df.select(id.as("id"), tokens.cast("long").as("t"))
      .withColumn("r", explode(sequence(lit(0), lit(k - 1))))
    val u = conv(substring(md5(concat(lit(salt), col("r").cast("string"),
        lit(":"), col("id").cast("string"))), 1, 7), 16, 10).cast("long")
    val w = PoissonThresholds.map(t => when(u >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val reps = base.select(col("r"), w.as("w"), col("t"))
      .groupBy("r").agg(sum(col("w")).as("docs_eff"),
        sum(col("w") * col("t")).as("tokens_eff"))
      .lckpt()
    val sse = reps.agg(
      expr(s"$k * sum(CAST(docs_eff AS DECIMAL(38,0)) * docs_eff)" +
        s" - CAST(sum(docs_eff) AS DECIMAL(38,0)) * sum(docs_eff)").as("ssd"),
      expr(s"$k * sum(CAST(tokens_eff AS DECIMAL(38,0)) * tokens_eff)" +
        s" - CAST(sum(tokens_eff) AS DECIMAL(38,0)) * sum(tokens_eff)").as("sst"))
    reps.crossJoin(sse)
      .select(col("r").as("replicate"), col("docs_eff"), col("tokens_eff"),
        col("ssd").cast("long").as("sse_scaled_docs"),
        col("sst").cast("long").as("sse_scaled_tokens"))
  }

  /** Uniform [0,1) value derived from the first 28 bits of md5(salt+id).
    *
    * `salt` separates DECISIONS: two samples/splits keyed off the same id
    * with the same salt are perfectly correlated (a 5% sample is a subset
    * of a 10% one — sometimes wanted), while different salts are
    * independent (a sampled subset then split by an independent salt gets
    * all splits represented). Default "" keeps decisions reproducible
    * across runs.
    */
  def hash01(id: Column, salt: String = ""): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 7), 16, 10).cast("double") /
      lit((1L << 28).toDouble)

  /** Keep rows whose hash falls below `rate` — a deterministic Bernoulli
    * sample, map-side only (the filter pushes to the scan).
    */
  def hashSample(df: DataFrame, id: Column, rate: Double, salt: String = ""): DataFrame =
    df.filter(hash01(id, salt) < rate)

  /** Assign each row to a named split by cumulative hash thresholds,
    * e.g. `Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)`.
    * Weights must sum to ~1; the last split absorbs rounding. A null id
    * yields a null split (not a silent assignment to the last split).
    */
  def splitColumn(id: Column, splits: Seq[(String, Double)], salt: String = ""): Column = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val h = hash01(id, salt)
    val cuts = splits.init.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val assigned = splits.init.zip(cuts).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), rest) => when(h < cut, lit(name)).otherwise(rest)
    }
    when(h.isNotNull, assigned)
  }

  /** Per-stratum deterministic sampling: each stratum keeps rows under
    * its own rate (absent strata keep nothing). Rates broadcast as a
    * literal map — map-side only, no shuffle, no skew sensitivity.
    */
  def stratifiedHashSample(df: DataFrame, id: Column, stratum: Column,
                           rates: Map[String, Double], salt: String = ""): DataFrame = {
    val rate = rates.foldLeft(lit(0.0): Column) {
      case (acc, (k, r)) => when(stratum === k, lit(r)).otherwise(acc)
    }
    df.filter(hash01(id, salt) < rate)
  }

  /** Deterministic global shuffle for training order: sort by
    * `md5(salt + id)`. The hex key is the shuffle position — consumers
    * read in `shuffle_key` order (or range-partition on it) and get the
    * same pseudo-random permutation on every engine and every re-run,
    * with per-salt independent epochs. Scale shape: one range-partitioned
    * sort (Spark's distributed sort), no global window, no driver state.
    */
  def shuffleOrder(df: DataFrame, id: Column, salt: String = ""): DataFrame =
    df.select(id.as("doc_id"),
        md5(concat(lit(salt), id.cast("string"))).as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))

  /** Greedy per-stratum selection under a token budget: rank documents
    * within each stratum by `quality` descending (id ascending breaks
    * ties), keep from the top while the running token total stays at or
    * under `budget` — the curation step that turns "we crawled 10 PB"
    * into "we train on this mixture".
    *
    * One shuffle, keyed on the stratum (the running sum is a window over
    * it); at 100 TB strata are domains/sources, so cardinality is high
    * and AQE evens out the skewed ones. The quality column is computed
    * by the caller — any map-side score composes here.
    */
  def tokenBudgetSelect(df: DataFrame, id: Column, stratum: Column,
                        nTokens: Column, quality: Column, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive: $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(id.as("doc_id"), stratum.as("source"),
        nTokens.cast("int").as("n_tokens"), quality.as("quality"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("cum_tokens") <= budget)
  }

  /** Leakage-free split column: the train/test decision is keyed on the
    * duplicate-CLUSTER key, not the document id, so every member of a
    * dup cluster lands on the same side — a doc-keyed split leaks test
    * content into train through its duplicates (the quiet eval
    * contamination every dedup paper warns about). Pass any cluster
    * key: a normalized-text fingerprint, a near-dup CC component id, a
    * URL host. Pure map-side expression; same determinism contract as
    * [[splitColumn]].
    */
  def clusterSplitColumn(clusterKey: Column, trainRate: Double,
                         salt: String = "split:"): Column = {
    require(trainRate > 0 && trainRate < 1, s"train rate in (0,1): $trainRate")
    when(hash01(clusterKey, salt) < trainRate, lit("train")).otherwise(lit("test"))
  }

  /** Weighted sampling WITHOUT replacement, distributed: the
    * Efraimidis–Spirakis exponential-key trick (Inf. Process. Lett.
    * 2006) — give each row the key `ln(u)/w` with `u = hash01(id)` and
    * keep the k LARGEST keys; the result is distributed exactly as
    * sequential weighted sampling without replacement. Because `u` is
    * the deterministic content hash (not `rand()`), the sample is a pure
    * function of the data — reproducible across retries, partitionings,
    * and engines — and the selection is one TakeOrdered, no shuffle of
    * the corpus. Keys are rounded (ties break by id) so the boundary is
    * engine-portable; weights must be positive.
    *
    * This is how "sample 10M docs ∝ quality score" runs at 100 TB:
    * map-side key computation, k rows per partition retained, one
    * k-sized merge on the driver side of the TakeOrdered.
    */
  def weightedSample(df: DataFrame, id: Column, weight: Column, k: Int,
                     salt: String = "ws:", roundTo: Int = 9): DataFrame = {
    require(k >= 1, s"sample size must be positive: $k")
    df.select(id.as("doc_id"), weight.cast("double").as("w"))
      .filter(col("w") > 0)
      .withColumn("es_key", round(log(hash01(col("doc_id"), salt)) / col("w"), roundTo))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  /** Deterministic shard assignment + per-shard manifest — the last mile
    * of a training-data pipeline: every row goes to shard
    * `md5('shard:'+id) mod shards` (a pure function of the id, so
    * re-runs, stage retries, and other engines produce the same
    * placement), and the manifest row per shard carries what a consumer
    * needs to VERIFY the shard it later reads: row count, token sum, an
    * order-independent content fingerprint (sum of 28-bit id hashes —
    * commutative, so it map-side-combines; precondition n_docs/shard <
    * 2^35 before the exact long sum can overflow), and the first/last
    * doc in the shard's deterministic read order (`md5('ord:'+id)` — the
    * [[shuffleOrder]] key, so shard order IS training order).
    *
    * Everything is one map-side-combined aggregate to `shards` rows — no
    * per-shard lists, no driver state — which is why the same manifest
    * runs unchanged at 100 TB. (A byte-exact chained checksum would need
    * the sorted shard stream; writers compute that while writing — the
    * manifest's job is placement + membership, which the commutative
    * fingerprint already pins.)
    */
  /** Mixture-epoch MATERIALIZATION — the step that turns [[mixtureEpochs]]'
    * fractional plan into actual per-doc repeat counts a shard writer
    * executes: a stratum planned at 1.37 epochs gives every doc 1 copy
    * plus a second copy for a deterministic 37% of docs (hash draw
    * `h·1e6 div 2²⁸ < frac`, a pure function of the id — retries and
    * engines agree; rand() here would re-deal the corpus every run).
    * Emits the per-stratum audit `(n_docs, planned_micro, sum_copies,
    * realized_micro, err_micro)` — realized mean copies tracks the plan
    * within hash-draw noise, and the err column is the number a mixture
    * QA gate thresholds. Exact integers end to end.
    *
    * Scale shape: the plan is a k-row broadcast; the draw is one
    * codegen map pass over the corpus into a k-row aggregate.
    */
  def epochMaterialization(df: DataFrame, id: Column, stratum: Column,
                           tokens: Column, salt: String = ""): DataFrame = {
    val plan = mixtureEpochs(df, stratum, tokens)
      .select(col("stratum"), col("epochs_micro"))
    df.select(stratum.as("stratum"), id.cast("long").as("doc_id"))
      .join(broadcast(plan), "stratum")
      .withColumn("h", Dedup.gramHash(concat(lit(s"${salt}epoch:"),
        col("doc_id").cast("string"))))
      .select(col("stratum"), col("epochs_micro"),
        (expr("epochs_micro div 1000000") +
          when(expr("(h * 1000000) div 268435456") <
              expr("epochs_micro % 1000000"), 1L)
            .otherwise(0L)).as("copies"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        max(col("epochs_micro")).as("planned_micro"),
        sum(col("copies")).as("sum_copies"))
      .withColumn("realized_micro", expr("sum_copies * 1000000 div n_docs"))
      .withColumn("err_micro", abs(col("realized_micro") - col("planned_micro")))
      .orderBy("stratum")
  }

  /** RENDEZVOUS (highest-random-weight) shard assignment with a
    * reshard-stability audit — the placement rule for a corpus that
    * GROWS shards over its lifetime. [[shardManifest]]'s `hash mod N`
    * is perfect for a one-shot export, but adding one shard remaps
    * ~`(N-1)/N` of every existing shard; rendezvous hashing (Thaler &
    * Ravishankar 1998, the rule behind consistent object placement)
    * assigns each doc to `argmax over s of h(s, id)`, so growing N→N+1
    * moves exactly the docs whose NEW candidate wins — an expected
    * `1/(N+1)` of the corpus, every one of them INTO the new shard and
    * none between old shards.
    *
    * This operator computes both assignments in one pass (the N+1
    * candidate scores per doc are one map-side `transform` over a
    * literal range — no join, no shuffle beyond the final `shards`-row
    * aggregate) and emits, per CURRENT shard: doc/token mass, the mass
    * that would move under N→N+1, and `moved_to` — which is the
    * structural invariant made visible: every non-null value equals the
    * new shard's index. Hashes are the engine-portable 28-bit md5
    * ([[graft.functions.Dedup.gramHash]]), ties break toward the
    * smaller shard index, so placement is a pure function of the id.
    *
    * 100 TB posture: per-row work is O(shards) inside one codegen
    * stage; state is the k-row result. The audit quantifies the cost of
    * a capacity change BEFORE the reshard runs — `moved_tokens` is the
    * bytes a 100 TB store would actually copy (≈ 1/(N+1) of it, vs
    * ≈ all of it under mod placement).
    */
  def rendezvousAudit(df: DataFrame, id: Column, nTokens: Column,
                      shards: Int, salt: String = ""): DataFrame = {
    require(shards >= 1, s"shard count must be positive: $shards")
    val idS = id.cast("string")
    // one scored candidate array covering s = 0..shards (N+1 entries);
    // argmax(h, then smaller s) read off a prefix for N, the whole
    // array for N+1 — each md5 computed once
    val scored = transform(sequence(lit(0), lit(shards)), s =>
      struct(
        Dedup.gramHash(concat(lit(s"${salt}rv:"), s.cast("string"),
          lit(":"), idS)).as("h"),
        (lit(0) - s).cast("int").as("neg_s")))
    val shardNow = (lit(0) - array_max(slice(scored, 1, shards))
      .getField("neg_s")).cast("int")
    val shardAfter = (lit(0) - array_max(scored).getField("neg_s")).cast("int")
    df.select(
        id.cast("long").as("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        shardNow.as("shard"),
        shardAfter.as("shard_after"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("shard_after") =!= col("shard"), 1L).otherwise(0L))
          .as("n_moved"),
        sum(when(col("shard_after") =!= col("shard"), col("n_tokens"))
          .otherwise(0L)).as("moved_tokens"),
        max(when(col("shard_after") =!= col("shard"), col("shard_after")))
          .as("moved_to"))
      .orderBy("shard")
  }

  def shardManifest(df: DataFrame, id: Column, nTokens: Column,
                    shards: Int, salt: String = ""): DataFrame = {
    require(shards >= 1, s"shard count must be positive: $shards")
    val idS = id.cast("string")
    df.select(
        id.cast("long").as("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        (Dedup.gramHash(concat(lit(s"${salt}shard:"), idS)) % shards)
          .cast("int").as("shard"),
        Dedup.gramHash(idS).as("idh"),
        md5(concat(lit(s"${salt}ord:"), idS)).as("ord"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("idh")).as("id_hash_sum"),
        min_by(col("doc_id"), col("ord")).as("first_id"),
        max_by(col("doc_id"), col("ord")).as("last_id"))
      .orderBy("shard")
  }
}
