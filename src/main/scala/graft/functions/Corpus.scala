package graft.functions

import graft.core.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistics and relevance scoring for training-data
  * pipelines: TF-IDF term weighting, BM25 query ranking, repetition
  * (quality) signals, and vocabulary / out-of-vocabulary coverage.
  *
  * Scale shape, per operator:
  *
  *  - TF-IDF: one explode + two hash aggregations. The document-frequency
  *    table is vocabulary-sized (≪ corpus — natural-language vocabularies
  *    grow ~O(corpus^0.5), Heaps' law), so it broadcasts; the only
  *    corpus-sized shuffles are the (doc, term) partial-aggregated count
  *    and the per-doc top-k window, both keyed by doc — the partitioning a
  *    downstream per-doc pipeline wants anyway.
  *  - BM25: corpus constants (N, avg length, per-term document frequency)
  *    come from ONE scalar aggregate pass; scoring is then map-side only
  *    (the constants cross-join a single broadcast row) and the top-k is
  *    a TakeOrdered — the fact table is never shuffled.
  *  - Repetition signals: two (doc, gram)-keyed aggregations; everything
  *    partial-aggregates map-side first.
  *  - Vocabulary: global top-N via aggregate + TakeOrdered (partial top-N
  *    per partition — no full sort); OOV scoring is map-side against the
  *    broadcast-by-construction vocabulary literal.
  *
  * Cross-engine float determinism (the repo-wide convention): every
  * emitted double is `round(..., n)`; scores that SUM several float terms
  * (BM25) add them in a fixed literal order so the accumulation order —
  * and therefore the last ulp — is identical in any engine evaluating the
  * same expression tree.
  */
object Corpus {

  /** Per-(doc, term) occurrence counts — the term-frequency table. */
  def termCounts(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), explode(TextOps.tokens(lower(text))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Top-`k` terms per document by smoothed TF-IDF
    * (`tf * (ln((N+1)/(df+1)) + 1)`), ties broken by term ascending.
    * Ranking uses the ROUNDED score so an oracle re-deriving it agrees on
    * boundary ties.
    */
  def tfIdfTopTerms(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val tf = termCounts(df, id, text)
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dft), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n") + 1).cast("double") / (col("df") + 1)) + 1), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  /** BM25 document ranking for a literal query-term list.
    *
    * `score(d) = Σ_t idf_t · tf_t(k1+1) / (tf_t + k1(1 − b + b·|d|/avgdl))`
    * with `idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))`.
    *
    * Per-term contributions are summed left-to-right in query order
    * (see the object scaladoc); zero-score documents are dropped.
    */
  def bm25(df: DataFrame, id: Column, text: Column, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df.select(id.as("doc_id"), TextOps.tokens(lower(text)).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("len"))
    scoreBm25(base, Seq("doc_id"), terms, k1, b, topK)
  }

  /** Shared BM25 scoring core over a pre-tokenized `(idCols..., toks,
    * len)` frame: one scalar-agg pass for the corpus constants (N,
    * avgdl, per-term df), broadcast, map-side scoring, TakeOrdered
    * top-k. The scoring UNIT is whatever one row is — documents
    * ([[bm25]]) or chunks ([[bm25Chunks]]).
    */
  private def scoreBm25(base: DataFrame, idCols: Seq[String], terms: Seq[String],
                        k1: Double, b: Double, topK: Int,
                        extraCols: Seq[String] = Nil): DataFrame = {
    val statAggs =
      count(lit(1)).cast("double").as("n") +:
        (sum(col("len")).cast("double") / count(lit(1))).as("avglen") +:
        terms.map(t =>
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
            .cast("double").as(s"df_$t"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val termScores = terms.map { t =>
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      val dfc = col(s"df_$t")
      val idf = log(lit(1.0) + ((col("n") - dfc) + lit(0.5)) / (dfc + lit(0.5)))
      val denom = tf + lit(k1) *
        ((lit(1.0) - lit(b)) + lit(b) * (col("len").cast("double") / col("avglen")))
      when(tf > 0, idf * ((tf * lit(k1 + 1)) / denom)).otherwise(lit(0.0))
    }
    scored.select((idCols ++ extraCols).map(col) :+
        round(termScores.reduceLeft(_ + _), 6).as("bm25"): _*)
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc +: idCols.map(col): _*)
      .limit(topK)
  }

  /** BM25 ranking at CHUNK granularity — the RAG retrieval shape: the
    * corpus splits into fixed-length token windows ([[Packing.chunkWindows]]'
    * geometry, materialized here as token slices), each chunk scores as
    * its own BM25 "document" (N, avgdl, df all chunk-level), and the
    * top-k chunks come back as `(doc_id, chunk_id, bm25)`. Whole-doc
    * ranking buries a relevant passage inside a long document's length
    * normalization; chunk ranking is what a retrieval index actually
    * serves. Tokens are staged once before the chunk generator (the
    * round-5 lesson); everything downstream is the shared scoring core.
    */
  def bm25Chunks(df: DataFrame, id: Column, text: Column, terms: Seq[String],
                 chunkLen: Int = 32, stride: Int = 32,
                 k1: Double = 1.2, b: Double = 0.75, topK: Int = 20,
                 withLen: Boolean = false): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"bm25Chunks needs 0 < stride <= chunkLen, got $stride/$chunkLen")
    val staged = df.filter(text.rlike("\\S"))
      .select(id.as("doc_id"), TextOps.tokens(lower(text)).as("ts"))
      .filter(size(col("ts")) > 0)
      .withColumn("n_chunks",
        when(size(col("ts")) <= chunkLen, lit(1))
          .otherwise(ceil((size(col("ts")) - chunkLen).cast("double") / stride)
            .cast("int") + 1))
    val base = staged
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        slice(col("ts"), col("chunk_id") * stride + 1, lit(chunkLen)).as("toks"))
      .withColumn("len", size(col("toks")))
    scoreBm25(base, Seq("doc_id", "chunk_id"), terms, k1, b, topK,
      extraCols = if (withLen) Seq("len") else Nil)
  }

  /** Context packing for RAG prompt assembly: given top-k retrieval
    * hits (ALREADY bounded by their retriever), keep the prefix in
    * score order whose cumulative token count fits `budget` —
    * take-while semantics: token counts are positive, so prefix sums
    * are monotone and the fitting set IS a prefix. The running-sum
    * window is global but runs over ≤ k rows (the pinned bounded-
    * post-aggregate class — corpus-sized work lives in the retriever).
    * Ties in `score` break by `ids` ascending (engine-portable).
    * Emits `cum_tokens` — the assembled prompt length after each kept
    * chunk.
    */
  def packContext(hits: DataFrame, score: Column, ids: Seq[Column],
                  tokens: Column, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val order = score.desc +: ids.map(_.asc)
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits.withColumn("cum_tokens", sum(tokens.cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
      .orderBy(order: _*)
  }

  /** Training SEQUENCE-PACKING audit — the pretraining last mile
    * ([[packContext]] packs a retriever's top-k into one prompt; this
    * packs the whole corpus into fixed-length training sequences): docs
    * are dealt to `shards` by a salted hash, shuffled within each shard
    * by the same hash (the deterministic epoch order), concatenated,
    * and cut every `seqLen` tokens (the GPT concat-and-chunk rule).
    * Emitted per shard: sequence count, how many documents straddle a
    * cut (`n_boundary_docs` — the attention-contamination / truncation
    * cost the packing strategy is judged by), and the tail fill of the
    * final partial sequence.
    *
    * Scale shape: the cumulative sum is windowed PER SHARD — exactly
    * how a real packer writes output shards in parallel — so the sort
    * is shard-local; no global window ever sees the corpus. Membership,
    * order, and every cut position are pure md5 functions of the doc
    * id, so retries, re-partitions, and other engines reproduce the
    * same packing bit for bit. Empty documents are dropped (they
    * occupy no sequence space).
    *
    * Output: `(shard, n_docs, n_tokens, n_seqs, n_boundary_docs,
    * tail_fill)` — exact integers; `n_seqs = ceil(n_tokens/seqLen)`,
    * `tail_fill = n_tokens mod seqLen`.
    */
  def sequencePacking(df: DataFrame, id: Column, tokens: Column,
                      seqLen: Int, shards: Int,
                      salt: String = "pack:"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be positive: $seqLen")
    require(shards >= 1, s"shards must be positive: $shards")
    val h = md5(concat(lit(salt), id.cast("string")))
    val base = df.select(id.as("id"), tokens.cast("long").as("t"), h.as("h"))
      .filter(col("t") > 0)
      .withColumn("shard",
        (conv(substring(col("h"), 1, 7), 16, 10).cast("long") % shards).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("cum_before", coalesce(sum(col("t")).over(w), lit(0L)))
      .withColumn("crosses",
        expr(s"(cum_before + t - 1) div ${seqLen}L") >
          expr(s"cum_before div ${seqLen}L"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_tokens"),
        sum(when(col("crosses"), 1L).otherwise(0L)).as("n_boundary_docs"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens + ${seqLen - 1}L) div ${seqLen}L").as("n_seqs"),
        col("n_boundary_docs"),
        (col("n_tokens") % seqLen).as("tail_fill"))
  }

  /** The iterative BPE MERGE-TRAINING loop (Sennrich et al. 2016) —
    * the missing link between [[bpePairCounts]] (one round's candidate
    * statistics) and the encode step (applying a learned merge table):
    * per round, count symbol-pair frequencies weighted by word
    * frequency, adopt the argmax pair (count desc, then pair — the
    * deterministic tie-break), and APPLY it greedy-leftmost
    * non-overlapping before recounting.
    *
    * The apply step is fully relational — no per-word fold: match
    * positions form gaps-and-islands (consecutive matches = one run),
    * and greedy leftmost = the odd ranks within each run (on "aaaa"
    * merging (a,a): matches at 0,1,2 are one island, ranks 1,3 →
    * positions 0,2 → [aa][aa], exactly the sequential semantics).
    * Windows are partitioned per WORD of the vocab table — the corpus
    * collapsed to (word, freq) before any character exploded (the
    * [[bpePairCounts]] discipline), so every stage is vocab-sized at
    * any corpus scale and per-word windows never see a global sort.
    *
    * Output: one row per round `(round, left_sym, right_sym,
    * pair_count, n_symbols_after)` — the learned merge table in order,
    * with the weighted corpus symbol count after each merge (the
    * number that shows compression taking hold). Exact integers.
    */
  def bpeTrainRounds(df: DataFrame, text: Column, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in 1..8: $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(TextOps.tokens(lower(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .lckpt()
    var sym = words.select(col("word"), col("freq"),
        posexplode(expr("transform(sequence(1, length(word)), j -> substring(word, j, 1))"))
          .as(Seq("pos", "s")))
      .lckpt()
    val byPos = Window.partitionBy("word").orderBy("pos")
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    for (r <- 1 to rounds) {
      val pairs = sym.withColumn("s2", lead(col("s"), 1).over(byPos))
        .lckpt()
      val topOpt = pairs.filter(col("s2").isNotNull)
        .groupBy("s", "s2").agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("s"), col("s2")).limit(1)
        .collect().headOption
      if (topOpt.isEmpty) {
        // fixpoint: no adjacent pair remains (single-character words, or
        // every word fully merged before `rounds` ran out) — emit explicit
        // no-op rows instead of throwing, the same convention the other
        // trajectory operators (MIS, k-core peel) follow
        val nNow = sym.agg(coalesce(sum(col("freq")), lit(0L))).head().getLong(0)
        out += ((r, "", "", 0L, nNow))
      } else {
      val top = topOpt.get
      val (s1v, s2v, cv) = (top.getString(0), top.getString(1), top.getLong(2))
      val m = pairs.filter(col("s") === s1v && col("s2") === s2v)
        .select(col("word"), col("pos"))
      val sel = m
        .withColumn("island", col("pos") - row_number().over(byPos))
        .withColumn("rn2", row_number().over(
          Window.partitionBy("word", "island").orderBy("pos")))
        .filter(col("rn2") % 2 === 1)
        .select(col("word"), col("pos"))
        .lckpt()
      sym = sym
        .join(sel.withColumn("selq", lit(1)), Seq("word", "pos"), "left")
        .join(sel.select(col("word"), (col("pos") + 1).as("pos"))
          .withColumn("dropq", lit(1)), Seq("word", "pos"), "left")
        .filter(col("dropq").isNull)
        .select(col("word"), col("freq"), col("pos"),
          when(col("selq") === 1, lit(s1v + s2v)).otherwise(col("s")).as("s"))
        .withColumn("pos2", row_number().over(byPos) - 1)
        .select(col("word"), col("freq"), col("pos2").as("pos"), col("s"))
        .lckpt()
      val nAfter = sym.agg(coalesce(sum(col("freq")), lit(0L))).head().getLong(0)
      out += ((r, s1v, s2v, cv, nAfter))
      }
    }
    out.toSeq.toDF("round", "left_sym", "right_sym", "pair_count",
      "n_symbols_after")
  }

  /** LENGTH-BUCKETED padding-efficiency audit — the dynamic-batching
    * planner ([[sequencePacking]] concatenates for pretraining; this
    * measures the PADDING cost of batching variable-length documents
    * for fine-tuning/inference, where examples cannot be concatenated):
    * docs bucket by power-of-two length bands starting at `base`
    * (`[0,base), [base,2·base), …`, top band open), each batch pads to
    * its bucket max. Emitted per bucket: doc/token mass, the bucket
    * max, padded cost `n_docs·max`, and the waste ratio — beside the
    * single-bucket (unbucketed) global padded cost, the number that
    * justifies length bucketing in every serving/training stack.
    *
    * Exactness: band edges are integer literals (a float log2 would
    * knife-edge at the boundaries); waste ratios are round-half-up
    * integer ppm. One map-side bucket assignment + one aggregate per
    * bucket + a 1-row global aggregate broadcast back.
    */
  def lengthBuckets(df: DataFrame, id: Column, tokens: Column,
                    base: Int = 16, buckets: Int = 8): DataFrame = {
    require(base >= 1, s"base must be positive: $base")
    require(buckets >= 2, s"need at least 2 buckets: $buckets")
    val t = tokens.cast("long")
    val edges = (0 until buckets - 1).map(b => base.toLong << b)
    val bucket = edges.zipWithIndex.foldRight(lit(buckets - 1): Column) {
      case ((edge, i), alt) => when(t < edge, i).otherwise(alt)
    }
    val per = df.select(id.as("id"), t.as("t"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        max(col("t")).as("max_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("max_tokens"))
      .withColumn("waste_ppm",
        when(col("padded_tokens") > 0,
          expr("(2 * (padded_tokens - n_tokens) * 1000000 + padded_tokens)" +
            " div (2 * padded_tokens)")).otherwise(0L))
    val glob = per.agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("gn"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("gt"),
        coalesce(max(col("max_tokens")), lit(0L)).as("gm"))
      .select((col("gn") * col("gm")).as("global_padded"), col("gt"), col("gn"),
        col("gm"))
      .select(col("global_padded"),
        when(col("global_padded") > 0,
          expr("(2 * (global_padded - gt) * 1000000 + global_padded)" +
            " div (2 * global_padded)")).otherwise(0L).as("global_waste_ppm"))
    per.crossJoin(glob)
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("max_tokens"),
        col("padded_tokens"), col("waste_ppm"),
        col("global_padded"), col("global_waste_ppm"))
  }

  /** T5-style SPAN-CORRUPTION planning stats — the denoising-objective
    * data prep (Raffel et al. 2020): deterministic hash-seeded span
    * starts at `seedThreshold/2²⁸` of token positions, each seed
    * corrupting `spanLen` tokens; overlapping spans merge, and each
    * MAXIMAL corrupted run becomes one sentinel. Emitted per document:
    * seed/corrupted/span counts and the resulting encoder/decoder
    * lengths (`input_len = n − corrupted + spans`,
    * `target_len = corrupted + spans`) — the numbers a batch-shape
    * planner needs before materializing any corrupted text.
    *
    * Determinism: a position is a seed iff the 28-bit md5 integer of
    * `salt:id:pos` is below `seedThreshold` — an INTEGER compare (no
    * float rate), so membership is a pure function of (id, pos) and any
    * engine replays the exact noise mask. Zero shuffle: positions,
    * seeds, span union, and run counting are per-row array expressions
    * (`sequence`/`filter`/`flatten`/`array_distinct`) — nothing
    * explodes, nothing moves; cost is O(tokens) per doc with an
    * O(corrupted²) run-count term bounded by the corruption rate.
    */
  def spanCorruption(df: DataFrame, id: Column, nTokens: Column,
                     spanLen: Int = 3, seedThreshold: Long = 1L << 25,
                     salt: String = "span:"): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive: $spanLen")
    require(seedThreshold >= 0 && seedThreshold <= (1L << 28),
      s"seedThreshold must be a 28-bit bound: $seedThreshold")
    df.select(id.as("id"), nTokens.cast("int").as("n"))
      .withColumn("seeds", when(col("n") > 0,
          filter(sequence(lit(0), col("n") - 1), p =>
            conv(substring(md5(concat(lit(salt), col("id").cast("string"),
              lit(":"), p.cast("string"))), 1, 7), 16, 10).cast("long")
              < seedThreshold))
        .otherwise(array().cast("array<int>")))
      .withColumn("corrupted", array_sort(array_distinct(flatten(
        transform(col("seeds"),
          p => sequence(p, least(p + spanLen - 1, col("n") - 1)))))))
      .withColumn("n_spans", size(filter(col("corrupted"),
        x => !array_contains(col("corrupted"), x - 1))).cast("long"))
      .select(col("id"), col("n").cast("long").as("n_tokens"),
        size(col("seeds")).cast("long").as("n_seeds"),
        size(col("corrupted")).cast("long").as("n_corrupted"),
        col("n_spans"),
        (col("n") - size(col("corrupted")) + col("n_spans")).cast("long")
          .as("input_len"),
        (size(col("corrupted")) + col("n_spans")).cast("long").as("target_len"))
  }

  // Max-occurrence counting (top token / top bigram) runs in the native
  // [[graft.functions.expressions.MaxRunCount]] expression: one compiled
  // index-sort + run-scan per document inside whole-stage codegen. The
  // previous Column forms (array_sort + aggregate fold; bigrams via
  // transform + concat_ws) were three interpreted CodegenFallback passes
  // per document — MaxRunCountSpec pins equality against them, including
  // the <2-token bigram guard (no bigrams → count 0).

  /** Gopher-style repetition signals per document: distinct-token ratio,
    * most-frequent-token fraction, most-frequent-bigram fraction, and a
    * `repetitive` flag (most-frequent-token fraction at or above
    * `topTokenFracMax`, tested on the ROUNDED value so any engine agrees).
    * `repetitive` is emitted as 0/1 int for cross-engine schema stability.
    *
    * Entirely map-side: per-doc counts come from sorted-array run lengths
    * ([[maxRunCount]]), not an exploded (doc, gram) aggregation — zero
    * shuffles at any corpus size (the exploded form moves every token
    * over the network twice; this moves nothing). Documents with no
    * tokens are dropped (no signals to compute).
    */
  def repetitionSignals(df: DataFrame, id: Column, text: Column,
                        topTokenFracMax: Double = 0.15): DataFrame = {
    val stats = df
      // "has at least one token" ⇔ "contains a non-whitespace char": the
      // rlike form is a cheap scan predicate, while filtering on
      // size(toks) > 0 gets PUSHED BELOW the staging projection and
      // re-derives the entire tokenization inside the filter (observed:
      // 2 extra split+filter evaluations per row in the p28 plan)
      .filter(text.rlike("\\S"))
      .select(id.as("doc_id"), TextOps.tokens(lower(text)).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        expressions.RunOps.maxRunCol(col("toks")).as("top_tf"),
        expressions.RunOps.maxBigramRunCol(col("toks")).as("top_bigram_tf"))
    val topTokenFrac =
      round(col("top_tf").cast("double") / greatest(col("n_tokens"), lit(1)), 4)
    stats.select(
      col("doc_id"),
      col("n_tokens"),
      round(col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1)), 4)
        .as("distinct_frac"),
      topTokenFrac.as("top_token_frac"),
      round(col("top_bigram_tf").cast("double") / greatest(col("n_tokens") - 1, lit(1)), 4)
        .as("top_bigram_frac"),
      when(topTokenFrac >= topTokenFracMax, 1).otherwise(0).as("repetitive"))
  }

  /** The `topN` most frequent corpus terms (ties broken by term
    * ascending), collected driver-side — vocabularies are bounded by
    * construction, so this is the broadcast-constant pattern, not a
    * corpus collect.
    */
  def topVocabulary(df: DataFrame, text: Column, topN: Int): Seq[String] =
    df.select(explode(TextOps.tokens(lower(text))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(topN)
      .collect().map(_.getString(0)).toSeq

  /** Per-document out-of-vocabulary counts against a literal vocabulary:
    * token count, OOV token count, OOV ratio. Map-side only.
    */
  def oovStats(df: DataFrame, id: Column, text: Column, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "oovStats needs a non-empty vocabulary")
    val vArr = array(vocab.map(lit): _*)
    val toks = TextOps.tokens(lower(text))
    df.select(id.as("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"), x => !array_contains(vArr, x))).as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / greatest(col("n_tokens"), lit(1)), 4))
  }

  /** Per-stratum corpus mixture statistics and uniform-target sampling
    * weights: document and token totals, each stratum's token share, and
    * the resampling weight (`(1/k) / share`) that would flatten the
    * mixture to uniform across the k strata — over- vs under-sampling
    * ratios in DoReMi-style mixture tuning.
    *
    * One partially-aggregated shuffle on the stratum; the global-total
    * window runs over the post-aggregate frame (k rows — one per
    * stratum), so the unpartitioned window is k-row work, not a corpus
    * sort.
    */
  def mixtureWeights(df: DataFrame, stratum: Column, text: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.groupBy(stratum.as("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(TextOps.tokenCount(text)).cast("long").as("n_tokens"))
      // the weight divides exact integer totals (total / (k·tokens)):
      // one IEEE division, identical in any engine — dividing by the
      // 6-dp ROUNDED share would turn a <5e-7 share into a zero divisor
      // (Infinity here, NULL in ANSI SQL). A zero-token stratum has no
      // finite flattening weight → null, never Infinity
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / sum("n_tokens").over(w), 6))
      .withColumn("uniform_weight",
        when(col("n_tokens") > 0,
          round(sum("n_tokens").over(w).cast("double") /
            (count(lit(1)).over(w) * col("n_tokens")), 6)))
      .select("source", "n_docs", "n_tokens", "token_share", "uniform_weight")
  }

  /** Temperature-scaled mixture resampling probabilities (the α-sampling
    * of XLM-R / mT5, Conneau et al. 2020): `q_i ∝ share_i^α` over token
    * shares per stratum — α = 1 keeps natural proportions, α → 0
    * flattens toward uniform, 0.2–0.7 up-weights low-resource strata
    * without drowning the head.
    *
    * One partially-aggregated shuffle (k = #strata post-aggregate rows);
    * the normalizations are windows over those k rows, not the corpus.
    *
    * Cross-engine determinism: token totals are exact longs; each
    * stratum's `share^α` lands on a 1e-6 integer grid (`t_micro`), so
    * the normalizing sum is an exact-long sum — the only engine-local
    * float ops are one division and one `pow` per stratum, applied to
    * identical inputs. A zero-token stratum gets q = 0 (pow(0, α) = 0
    * for α > 0), never null/Infinity.
    */
  def temperatureMixture(df: DataFrame, stratum: Column, text: Column,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val w = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    df.groupBy(stratum.as("source"))
      .agg(sum(TextOps.tokenCount(text)).cast("long").as("n_tokens"))
      .withColumn("t_micro",
        round(pow(col("n_tokens").cast("double") / sum("n_tokens").over(w),
          lit(alpha)) * lit(1e6)).cast("long"))
      .withColumn("q",
        round(col("t_micro").cast("double") / sum("t_micro").over(w), 6))
      .select("source", "n_tokens", "q")
  }

  /** Duplicate-n-gram coverage per document for each gram size in `ns`:
    * the total n-gram position count and the fraction of positions whose
    * n-gram occurs ≥ 2 times in the document — the "fraction of
    * duplicated n-grams" family of repetition filters (complementing
    * [[repetitionSignals]]'s top-gram fractions). Documents with no
    * tokens are dropped (no positions to measure).
    *
    * Zero shuffle at any corpus size: one shared tokenization, then a
    * native [[expressions.DupGramCount]] run-scan per gram size inside
    * the same codegen stage — nothing is exploded, no gram strings are
    * materialized.
    */
  def dupNgramStats(df: DataFrame, id: Column, text: Column,
                    ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "dupNgramStats needs gram sizes >= 1")
    val staged = df
      .filter(text.rlike("\\S")) // see repetitionSignals: rlike stays a scan predicate
      .select(id.as("doc_id"), TextOps.tokens(lower(text)).as("toks"))
    val cols = ns.flatMap { n =>
      val m = greatest(size(col("toks")) - (n - 1), lit(0))
      val dup = expressions.DupGramOps.dupGramCountCol(col("toks"), n)
      Seq(m.as(s"n_grams_$n"),
        round(dup.cast("double") / greatest(m, lit(1)), 4).as(s"dup_frac_$n"))
    }
    staged.select(col("doc_id") +: cols: _*)
  }

  /** The `topN` most frequent word n-grams corpus-wide with their counts
    * (ties broken by gram ascending) — vocabulary induction / common-
    * phrase mining. The explode is map-side; the count is one partially-
    * aggregated word-count-shaped shuffle on the gram (map-side combine
    * collapses each partition's repeats before the exchange), and the
    * top-N is TakeOrdered — no global sort is ever materialized.
    */
  /** COLLOCATION mining — statistically-bound word pairs ranked by
    * LIFT `P(ab)/(P(a)P(b)) = joint·N/(left·right)`, the PMI
    * exponential kept in exact integer MILLI-units so the ranking is a
    * pure function of the counts (log-PMI itself needs libm and never
    * hash-verifies; lift orders identically). Raw bigram counts rank
    * "of the"-style function-word pairs first; lift surfaces the pairs
    * that co-occur far above chance — the multi-word-expression
    * vocabulary a tokenizer or index wants as single units. `minJoint`
    * is the standard PMI noise floor (a pair seen twice can have huge
    * lift by luck).
    *
    * Shape: one token scan each for unigrams and bigrams (map-side
    * combined), two broadcast-sized joins of the bigram table against
    * the unigram counts, bounded-heap top-N. Overflow bound: `joint ·
    * N · 1000` stays under 2⁶³ for corpora to ~10⁹ tokens per batch —
    * shard the statistic beyond that (counts merge by sum).
    */
  def collocations(df: DataFrame, text: Column, minJoint: Long,
                   topN: Int): DataFrame = {
    require(minJoint >= 1 && topN >= 1, "collocations needs positive bounds")
    val staged = df.select(TextOps.tokens(lower(text)).as("ts"))
      .lckpt()
    val uni = staged.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val nTotal = staged.select(coalesce(sum(size(col("ts"))), lit(0))
      .cast("long").as("n_total"))
    val bi = staged.select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(0), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i + 1).as("w1"),
            element_at(col("ts"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("joint"))
      .filter(col("joint") >= minJoint)
    val scored = bi
      .join(uni.select(col("t").as("w1"), col("c").as("left_c")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("right_c")), "w2")
      .crossJoin(broadcast(nTotal))
      .select(col("w1"), col("w2"), col("joint"), col("left_c"),
        col("right_c"),
        expr("joint * n_total * 1000 div (left_c * right_c)")
          .as("lift_milli"))
    // TakeOrderedAndProject: per-partition heaps + a k-row merge, never
    // a global sort (the lexicographic tie-break needs ascending string
    // order, which the max-heap operator cannot express)
    scored.orderBy(col("lift_milli").desc, col("joint").desc,
        col("w1"), col("w2"))
      .limit(topN)
  }

  def topNgrams(df: DataFrame, text: Column, n: Int, topN: Int): DataFrame = {
    require(n >= 1 && topN >= 1, "topNgrams needs n >= 1 and topN >= 1")
    // stage the token array in its own projection: the generator
    // expression references it three times (size guard, sequence bound,
    // slice lambda), and inlining would re-tokenize per reference — a
    // Generate's child Project survives optimization, so `ts` is computed
    // exactly once per row (observed 2.4× on the p47 bench)
    val staged = df.select(TextOps.tokens(lower(text)).as("ts"))
    // guard BEFORE sequence(): sequence(0, -1) is a descending range in
    // Spark, which would fabricate grams for docs shorter than n
    val grams =
      if (n == 1) explode(col("ts"))
      else explode(when(size(col("ts")) >= n,
        transform(sequence(lit(0), size(col("ts")) - n),
          i => concat_ws(" ", slice(col("ts"), i + 1, lit(n)))))
        .otherwise(array().cast("array<string>")))
    staged.select(grams.as("gram"))
      .groupBy("gram").agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("gram")).limit(topN)
  }

  /** CCNet-style language-model quality scoring: train an add-one-
    * smoothed word-bigram LM on the `isRef` slice of the corpus, then
    * score EVERY document (reference rows included) by the average
    * negative log-likelihood of its bigrams — low `avg_nll` means
    * "reads like the reference corpus", the filtering signal CCNet
    * (Wenzek et al. 2019) computes with a Wikipedia-trained KenLM.
    *
    * Scale shape: the trained model is vocabulary-bounded, NOT corpus-
    * bounded (unigram types follow Heaps' law; bigram types are bounded
    * by the reference slice's token count, and a curation reference is a
    * deliberately small high-quality corpus). Shipping the model to
    * every node — here a broadcast hash join on the bigram key — is
    * exactly how the production design distributes KenLM. Scoring is
    * then map-side; the only corpus-sized shuffle is the per-doc
    * aggregate, partially aggregated map-side. For a reference slice too
    * big to broadcast, pass `broadcastLm = false` to fall back to a
    * (w1, w2)-keyed shuffle join.
    *
    * Cross-engine determinism: each distinct bigram's log-probability is
    * rounded once onto a 1e-6 integer grid (`lp_micro` as long); a
    * document's score is the exact integer sum of its bigrams' micros —
    * accumulation-order independent, so any engine summing the same
    * micros over any partitioning gets the identical hash. Docs with
    * fewer than two tokens have no bigrams and are dropped.
    */
  def lmScore(df: DataFrame, id: Column, text: Column, isRef: Column,
              broadcastLm: Boolean = true): DataFrame = {
    // token guards are cheap scan regexes, NOT size(ts) filters: a
    // size() predicate gets pushed below the staging projection and
    // re-derives the whole tokenization inside the filter (the p28
    // lesson); the rlike forms push into the scan for free. Unigram
    // training keeps every ref doc with ≥1 token; the bigram frame
    // needs ≥2 (two non-space runs).
    val bg = df.filter(text.rlike("\\S\\s+\\S"))
      .select(id.as("doc_id"), isRef.as("is_ref"),
        TextOps.tokens(lower(text)).as("ts"))
      .select(
        col("doc_id"), col("is_ref"),
        explode(transform(sequence(lit(0), size(col("ts")) - 2),
          i => struct(col("ts")(i).as("w1"), col("ts")(i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("is_ref"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = df.filter(isRef && text.rlike("\\S"))
      .select(explode(TextOps.tokens(lower(text))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    // vocabulary size: a broadcast-constant scalar (Heaps'-law bounded),
    // same discipline as topVocabulary — never a corpus-sized collect
    val v = uni.agg(count(lit(1))).head().getLong(0)
    require(v > 0, "lmScore: the reference slice has no tokens")
    val lm = bg.filter(col("is_ref")).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
      .join(uni, "w1")
      .select(col("w1"), col("w2"),
        round(log((col("c2") + 1).cast("double") / (col("c1") + v)) * 1e6)
          .cast("long").as("lp_micro"))
    val ctx = uni.select(col("w1"),
      round(log(lit(1.0) / (col("c1") + v)) * 1e6).cast("long").as("unk_micro"))
    val floorMicro = math.round(math.log(1.0 / v) * 1e6)
    val (lmSide, ctxSide) =
      if (broadcastLm) (broadcast(lm), broadcast(ctx)) else (lm, ctx)
    bg.join(lmSide, Seq("w1", "w2"), "left")
      .join(ctxSide, Seq("w1"), "left")
      .select(col("doc_id"),
        coalesce(col("lp_micro"), col("unk_micro"), lit(floorMicro)).as("m"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"), sum(col("m")).as("sm"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-(col("sm") / lit(1000000.0)) / col("n_bigrams"), 4).as("avg_nll"))
  }

  /** The BPE merge-candidate table (Sennrich et al. 2016): adjacent
    * character-pair counts over the corpus, weighted by word frequency —
    * the counting step a BPE tokenizer trainer runs before every merge,
    * and the only part that touches the corpus.
    *
    * Scale shape: the corpus collapses to its word-frequency table first
    * (vocabulary-sized — Heaps' law — with map-side partial counts), and
    * pairs explode off DISTINCT words only; the pair aggregation
    * therefore runs on vocab-sized data however large the corpus. The
    * top-N is a TakeOrdered (per-partition partial top-N, no full sort).
    * Counts are exact longs — no float anywhere.
    */
  def bpePairCounts(df: DataFrame, text: Column, topN: Int): DataFrame = {
    require(topN >= 1, s"bpePairCounts needs topN >= 1: $topN")
    val vocab = df.select(explode(TextOps.tokens(lower(text))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val pairs = explode(transform(sequence(lit(1), length(col("w")) - 1),
      i => col("w").substr(i, lit(2))))
    vocab.filter(length(col("w")) >= 2) // 1-char words have no pairs
      .select(pairs.as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).cast("long").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(topN)
  }

  /** Skip-gram (center, context) co-occurrence counts — the word2vec /
    * GloVe training-pair exporter: every ordered token pair within
    * `window` positions of each other, counted corpus-wide. The count
    * table IS the GloVe input and the sampling distribution a skip-gram
    * trainer draws from.
    *
    * Scale shape: the naive formulation self-joins token positions on
    * `abs(pos_a - pos_b) <= window` — a per-document quadratic range
    * join. Here each occurrence instead emits its 2·window CONTEXT
    * POSITIONS map-side (a fixed-fanout explode) and the pair forms by
    * one `(doc, pos)` equi-join — linear in corpus size with a
    * constant factor of 2·window, the p116 banding idea applied to
    * token positions. Out-of-range context positions simply find no
    * match (inner join). The pair aggregate map-side-combines, so hot
    * (stopword, stopword) pairs arrive at the reducer pre-collapsed;
    * counts are exact longs, the top-k is one TakeOrdered.
    */
  /** Unigram negative-sampling table — the OTHER artifact a word2vec /
    * contrastive trainer needs beside the pair table ([[skipGramPairs]]):
    * the smoothed sampling distribution negatives are drawn from,
    * count^0.75 (Mikolov et al. 2013's noise distribution, which
    * down-weights stopwords relative to raw frequency).
    *
    * Exactness trick: `pow(x, 0.75)` is NOT bit-portable (libm pow
    * differs in the last ulp across engines), but `x^0.75 =
    * sqrt(sqrt(x³))` IS — IEEE-754 sqrt is correctly rounded on every
    * conforming implementation and x³ stays exact in a double for
    * counts < 2^17.7 (≈208k; the guard raises past it). The smoothed
    * weight then floors to integer millis, so the normalizing sum is a
    * sum of LONGS — exact and aggregation-order-independent where a
    * float sum would drift with partition order — and the sampling
    * probability is exact integer ppm.
    *
    * Scale shape: one map-side-combined token count (vocab-sized by
    * Heaps' law), one scalar aggregate for the denominator broadcast
    * back via crossJoin (the Hits single-row pattern), one TakeOrdered.
    */
  /** Exact `floor(1000·n^(3/4))` for ANY non-negative long via integer
    * square roots over BigInt — the wide-count regime of
    * [[negativeSamplingTable]]'s smoothing weight. Uses the JDK's
    * `BigInteger.sqrt()` (JDK 9+, exact floor sqrt by contract) rather
    * than a hand-rolled Newton loop: the `prev != r` termination of
    * the old loop 2-cycled forever between a-1 and a when an
    * intermediate argument landed on a²-1 (the outer isqrt CAN see
    * one-less-than-a-perfect-square inputs), hanging the executor
    * task. No floating point anywhere.
    */
  private[functions] def milliWExact(n: Long): Long = {
    def isqrt(x: BigInt): BigInt = BigInt(x.bigInteger.sqrt())
    require(n >= 0, s"milliWExact needs n >= 0: $n")
    isqrt(isqrt(BigInt(n) * n * n * BigInt(10).pow(12))).toLong
  }

  private val wideMilliW =
    org.apache.spark.sql.functions.udf((n: Long) => milliWExact(n))

  def negativeSamplingTable(df: DataFrame, text: Column, topK: Int): DataFrame = {
    require(topK >= 1, s"negativeSamplingTable needs topK >= 1: $topK")
    val counts = df.select(explode(TextOps.tokens(lower(text))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // two exactness regimes (same deterministic value everywhere for a
    // given n, which is all reproducibility needs):
    //  - n ≤ 208063 (n³ < 2^53): the bit-portable double form
    //    floor(sqrt(sqrt(n³))·1000) — pure codegen, and the form the
    //    DuckDB oracle replays (gate SFs never leave this regime);
    //  - larger n — a 100 TB corpus has token counts in the BILLIONS;
    //    the r14 sf4.0 sweep hit the old raise_error guard live at
    //    n=364480 — the exact INTEGER fourth root
    //    floor((n³·10¹²)^¼) = isqrt(isqrt(n³·10¹²)) over BigInt
    //    (floor∘sqrt composes: ⌊√⌊√N⌋⌋ = ⌊N^¼⌋ for all N ≥ 0). Runs
    //    on the vocab-sized aggregate output, never per token, so the
    //    non-codegen UDF costs nothing that matters.
    val wMilli = when(col("n") <= 208063L,
        floor(sqrt(sqrt((col("n") * col("n") * col("n")).cast("double"))) * 1000d).cast("long"))
      .otherwise(wideMilliW(col("n")))
    val weighted = counts.withColumn("w_milli", wMilli)
    val denom = weighted.agg(sum(col("w_milli")).as("w_total"))
    weighted.crossJoin(denom)
      .select(col("token"), col("n"), col("w_milli"),
        expr("w_milli * 1000000L div w_total").as("prob_ppm"))
      .orderBy(col("n").desc, col("token")).limit(topK)
  }

  def skipGramPairs(df: DataFrame, id: Column, text: Column,
                    window: Int, topK: Int): DataFrame = {
    require(window >= 1, s"skipGramPairs needs window >= 1: $window")
    require(topK >= 1, s"skipGramPairs needs topK >= 1: $topK")
    val occ = df.select(id.as("doc_id"),
        posexplode(TextOps.tokens(lower(text))).as(Seq("pos", "tok")))
    val offsets = ((-window to -1) ++ (1 to window)).map(o => lit(o))
    val ctxSide = occ.select(col("doc_id"), col("tok").as("center"),
        col("pos").as("cpos"), explode(array(offsets: _*)).as("off"))
      .select(col("doc_id"), col("center"), (col("cpos") + col("off")).as("pos"))
    // BOTH sides of the (doc_id, pos) self-join are corpus-sized (occ is
    // the posexploded token stream; ctxSide is occ × 2·window), but
    // Catalyst's size estimate below an explode is the parquet file
    // size, which reads broadcast-small for any compressed corpus — at
    // the mem2g×sf4.0 sweep the planner chose a broadcast hash join
    // whose build side deserialized to a single 512 MB allocation and
    // OOMed the 2 GiB executor (UNABLE_TO_ACQUIRE_MEMORY inside
    // UnsafeHashedRelation.read). Pin sort-merge: a corpus-sized build
    // side must never broadcast, and SMJ spills gracefully where a
    // shuffled hash join's build side is still an in-memory map.
    ctxSide.hint("merge").join(occ.hint("merge"), Seq("doc_id", "pos"))
      .groupBy(col("center"), col("tok").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("center"), col("context"))
      .limit(topK)
  }
}
