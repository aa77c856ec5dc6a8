package graft.pipeline

import graft.core.Ckpt._
import graft.functions.{Quality, Sampling, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The selected corpus plus the per-stage attrition funnel
  * `(stage_idx, stage, n_docs, n_tokens)`.
  */
final case class CurationResult(selected: DataFrame, funnel: DataFrame)

/** End-to-end corpus curation: the standard training-data preparation
  * chain — quality gate → exact dedup → eval-set decontamination →
  * per-source token-budget selection — composed from the engine's
  * operators into ONE declarative DataFrame DAG, with an attrition
  * funnel for pipeline observability.
  *
  * Every stage keeps its operator's scale shape: the gate is a pushable
  * map-side predicate; dedup is one fingerprint-keyed window (first
  * occurrence survives); decontamination broadcasts the eval fingerprint
  * set (eval benchmarks are broadcast-sized by definition) and
  * anti-joins; selection is one stratum-keyed window. Document text
  * itself crosses the wire only for the dedup and selection shuffles —
  * at 100 TB both key on high-cardinality columns (content hash,
  * source), so AQE spreads them.
  *
  * The funnel unions one scalar aggregate per stage; branches share the
  * lineage prefix (cache the gated stage when running both outputs on a
  * real cluster).
  */
object Curation {

  def curate(docs: DataFrame, id: Column, text: Column, source: Column,
             evalFilter: Column, minShared: Int, budgetPerSource: Long,
             rules: Quality.GateRules = Quality.GateRules(),
             stopwords: Seq[String] = TextOps.defaultStopwords): CurationResult = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val base = docs.select(id.as("doc_id"), text.as("text"), source.as("source"),
      evalFilter.as("is_eval"))
    val train = base.filter(!col("is_eval"))
    val evalDocs = base.filter(col("is_eval"))

    val gated = train.filter(
      Quality.gate(col("text"), stopwords, rules).getField("passes"))

    // exact dedup: first occurrence (smallest id) per content fingerprint
    val byFp = Window.partitionBy("fp").orderBy("doc_id")
    val deduped = gated
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("rn", row_number().over(byFp))
      .filter(col("rn") === 1).drop("fp", "rn")

    // decontamination: substring-level winnowing overlap vs the eval set
    val evalFps = evalDocs
      .select(explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
      .distinct()
    val contaminated = deduped
      .select(col("doc_id"),
        explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
      .join(broadcast(evalFps), Seq("fp"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("doc_id")
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")

    val selected = Sampling.tokenBudgetSelect(clean, col("doc_id"), col("source"),
      TextOps.tokenCount(col("text")),
      TextOps.qualitySignals(col("text"), stopwords).getField("stopword_ratio"),
      budgetPerSource)

    def stageRow(idx: Int, name: String, df: DataFrame, tokens: Column): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(tokens), lit(0L)).cast("long").as("n_tokens"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))

    val tok = TextOps.tokenCount(col("text"))
    val funnel = stageRow(0, "input", train, tok)
      .unionByName(stageRow(1, "quality_gate", gated, tok))
      .unionByName(stageRow(2, "exact_dedup", deduped, tok))
      .unionByName(stageRow(3, "decontaminate", clean, tok))
      .unionByName(stageRow(4, "token_budget", selected, col("n_tokens")))
    CurationResult(selected, funnel)
  }

  /** The MIXTURE BUILD — the allocation-aware counterpart of [[curate]]
    * (whose per-source budget is a flat constant): quality gate → exact
    * dedup → water-filling allocation across strata
    * ([[Sampling.waterfillAllocation]]: over-represented strata flatten
    * to the integer water level, small strata keep everything) →
    * deterministic hash-ordered selection under each stratum's token
    * allocation. Output is the per-stratum release manifest: counts at
    * every stage, the allocation, what was actually selected, and an
    * order-independent selection fingerprint (sum of 28-bit id hashes —
    * commutative, so it map-side-combines and reproduces on any
    * engine), which is what a consumer verifies a shipped mixture
    * against.
    *
    * Scale shape: every stage is a corpus-linear projection or
    * map-side-combined aggregate; the only windows are the per-
    * fingerprint dedup rank and the per-stratum running selection sum
    * (both partitioned — no global window touches the corpus); the
    * allocation table is strata-sized and broadcasts back.
    */
  /** RIGHT-TO-BE-FORGOTTEN cascade audit — what a delete set actually
    * costs across the DERIVED artifacts of a standing corpus, before
    * the deletion runs. At 100 TB a delete is never one table: the
    * fingerprint dedup store loses groups (only when EVERY member is
    * deleted — a group with a surviving member keeps its entry), shard
    * manifests containing a deleted doc must be rewritten, and the
    * mixture planner's token masses shift. This audit computes all of
    * it in ONE pass over the corpus (every artifact row is a map-side-
    * combined aggregate of the same projected base), emitting
    * `(artifact, n_before, n_affected, n_after)` exact integers:
    *  - `documents`: rows before / deleted / remaining;
    *  - `fingerprint_store`: distinct fingerprints / groups that
    *    disappear entirely / surviving groups;
    *  - `shard_manifests`: shards / shards touched (must rewrite) /
    *    shards after (count unchanged — rewrite, not removal);
    *  - `token_mass`: corpus tokens / deleted tokens / remaining.
    * Placement uses [[Sampling.shardManifest]]'s hash rule, so the
    * touched-shard count is exactly the rewrite set that store would
    * see.
    */
  def deleteCascade(docs: DataFrame, id: Column, text: Column,
                    deletePred: Column, shards: Int): DataFrame = {
    require(shards >= 1, s"shard count must be positive: $shards")
    val base = docs.select(
        id.cast("long").as("doc_id"),
        size(TextOps.tokens(lower(text))).cast("long").as("n_tok"),
        TextOps.fingerprint(text).as("fp"),
        (graft.functions.Dedup.gramHash(concat(lit("shard:"), id.cast("string")))
          % shards).cast("int").as("shard"),
        deletePred.as("del"))
      .lckpt()
    def row(name: String, before: Column, affected: Column, after: Column) =
      (df: DataFrame) => df.select(lit(name).as("artifact"),
        before.cast("long").as("n_before"),
        affected.cast("long").as("n_affected"),
        after.cast("long").as("n_after"))
    val docsRow = row("documents", col("nb"), col("na"), col("nb") - col("na"))(
      base.agg(count(lit(1)).as("nb"),
        sum(when(col("del"), 1L).otherwise(0L)).as("na")))
    val fpRow = row("fingerprint_store", col("nb"), col("na"), col("nb") - col("na"))(
      base.groupBy("fp")
        .agg(count(lit(1)).as("n"), sum(when(col("del"), 1L).otherwise(0L)).as("nd"))
        .agg(count(lit(1)).as("nb"),
          sum(when(col("nd") === col("n"), 1L).otherwise(0L)).as("na")))
    val shRow = row("shard_manifests", col("nb"), col("na"), col("nb"))(
      base.groupBy("shard")
        .agg(max(when(col("del"), 1L).otherwise(0L)).as("touched"))
        .agg(count(lit(1)).as("nb"), sum(col("touched")).as("na")))
    val tokRow = row("token_mass", col("nb"), col("na"), col("nb") - col("na"))(
      base.agg(sum(col("n_tok")).as("nb"),
        sum(when(col("del"), col("n_tok")).otherwise(0L)).as("na")))
    docsRow.unionByName(fpRow).unionByName(shRow).unionByName(tokRow)
      .orderBy("artifact")
  }

  /** PREFERENCE-PAIR export — the (chosen, rejected) table a reward
    * model / DPO trainer consumes, mined from the corpus's own quality
    * signal: per source, the k best and k worst docs by integer-ppm
    * stopword ratio (the p39/p43 signal made exact — `n_stop · 1e6 div
    * n_tokens`, no float), zipped by rank (best vs worst, 2nd-best vs
    * 2nd-worst …) and kept only when the quality margin clears
    * `minMarginPpm` — a near-tie teaches a preference model nothing,
    * and pairing extremes maximizes the signal per pair.
    *
    * Scale shape: both ends come from the bounded-heap operator (≤ k
    * rows per source cross the shuffle — the corpus is scanned once,
    * map-side); the zip join and margin gate run on 2k rows per
    * source. Ties break by smaller doc id at every step, so the export
    * is a pure function of the corpus — the property that lets two
    * training runs see the same preference data.
    */
  def preferencePairs(docs: DataFrame, id: Column, text: Column,
                      stratum: Column, k: Int,
                      minMarginPpm: Long): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(minMarginPpm >= 0, s"minMarginPpm must be non-negative: $minMarginPpm")
    val toks = TextOps.tokens(lower(text))
    val stops = TextOps.defaultStopwords
    val scored = docs.select(stratum.as("source"), id.cast("long").as("doc_id"),
        (size(filter(toks, t => t.isin(stops: _*))).cast("long") * 1000000L)
          .as("num"),
        greatest(size(toks), lit(1)).cast("long").as("den"))
      // integer `div`, not `/` — Spark's `/` on longs is true division
      .select(col("source"), col("doc_id"),
        expr("num div den").as("score_ppm"))
      .lckpt()
    val byRankW = Window.partitionBy("source")
    def ranked(df: DataFrame, best: Boolean) = {
      val ord = if (best) Seq(col("score_ppm").desc, col("doc_id").asc)
                else Seq(col("score_ppm").asc, col("doc_id").asc)
      df.withColumn("rank",
        row_number().over(byRankW.orderBy(ord: _*)))
    }
    val chosen = ranked(graft.plans.TopKPerGroup.topK(scored,
        Seq(col("source")), struct(col("score_ppm"), -col("doc_id")), k),
        best = true)
      .select(col("source"), col("rank"), col("doc_id").as("chosen_id"),
        col("score_ppm").as("chosen_ppm"))
    val rejected = ranked(graft.plans.TopKPerGroup.topK(scored,
        Seq(col("source")), struct(-col("score_ppm"), -col("doc_id")), k),
        best = false)
      .select(col("source"), col("rank"), col("doc_id").as("rejected_id"),
        col("score_ppm").as("rejected_ppm"))
    chosen.join(rejected, Seq("source", "rank"))
      .filter(col("chosen_id") =!= col("rejected_id") &&
        col("chosen_ppm") - col("rejected_ppm") >= minMarginPpm)
      .select(col("source"), col("rank"), col("chosen_id"), col("chosen_ppm"),
        col("rejected_id"), col("rejected_ppm"),
        (col("chosen_ppm") - col("rejected_ppm")).as("margin_ppm"))
      .orderBy("source", "rank")
  }

  def mixtureBuild(docs: DataFrame, id: Column, text: Column, stratum: Column,
                   minTokens: Int, budgetNum: Long, budgetDen: Long): DataFrame = {
    require(minTokens >= 0, s"minTokens must be non-negative: $minTokens")
    val base = docs.select(id.as("doc_id"), stratum.as("stratum"),
      size(TextOps.tokens(lower(text))).cast("long").as("n_tok"),
      TextOps.fingerprint(text).as("fp"))
    val gated = base.filter(col("n_tok") >= minTokens)
    val byFp = Window.partitionBy("fp").orderBy("doc_id")
    val deduped = gated.withColumn("rn", row_number().over(byFp))
      .filter(col("rn") === 1).drop("rn")
    val alloc = Sampling.waterfillAllocation(deduped, col("stratum"),
        col("n_tok"), budgetNum, budgetDen)
      .select(col("stratum"), col("allocated"))
    val selOrd = Window.partitionBy("stratum")
      .orderBy(md5(concat(lit("mix:"), col("doc_id").cast("string"))), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val selected = deduped
      .withColumn("cum", sum(col("n_tok")).over(selOrd).cast("long"))
      .join(broadcast(alloc), "stratum")
      .filter(col("cum") <= col("allocated"))
    val idHash = conv(substring(md5(concat(lit("fp:"),
      col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
    base.groupBy("stratum").agg(count(lit(1)).as("n_docs_in"))
      .join(gated.groupBy("stratum")
        .agg(count(lit(1)).as("n_after_gate")), Seq("stratum"), "left")
      .join(deduped.groupBy("stratum")
        .agg(count(lit(1)).as("n_after_dedup"),
          sum("n_tok").cast("long").as("tok_after_dedup")), Seq("stratum"), "left")
      .join(broadcast(alloc), Seq("stratum"), "left")
      .join(selected.groupBy("stratum")
        .agg(count(lit(1)).as("n_selected"),
          sum("n_tok").cast("long").as("tok_selected"),
          sum(idHash).as("sel_fingerprint")), Seq("stratum"), "left")
      .select(col("stratum"),
        col("n_docs_in"),
        coalesce(col("n_after_gate"), lit(0L)).as("n_after_gate"),
        coalesce(col("n_after_dedup"), lit(0L)).as("n_after_dedup"),
        coalesce(col("tok_after_dedup"), lit(0L)).as("tok_after_dedup"),
        coalesce(col("allocated"), lit(0L)).as("allocated"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("tok_selected"), lit(0L)).as("tok_selected"),
        coalesce(col("sel_fingerprint"), lit(0L)).as("sel_fingerprint"))
  }
}
