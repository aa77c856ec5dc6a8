package graft.functions

import graft.core.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact / fingerprint dedup: one hash aggregation (map-side partial);
  *  - n-gram Jaccard: inverted-index self-join (gram → doc list) — the
  *    scalable formulation; never a full doc×doc cross join;
  *  - MinHash + LSH banding: signatures are computed map-side with
  *    codegen'd array expressions; candidate generation is a shuffle on
  *    (band, bucket) keys only, so the shuffle volume is O(docs × bands),
  *    independent of corpus size per doc;
  *  - SimHash: 64-bit signature via per-bit weighted majority.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact-duplicate clusters keyed by md5 of the raw text: keep the
    * smallest id as the cluster representative.
    */
  def exactClusters(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Normalized-fingerprint dedup (case/whitespace-insensitive). */
  def fingerprintClusters(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextOps.fingerprint(text).as("fp"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  // ----------------------------------------------------------- shingles

  /** Distinct word `n`-grams per document, exploded to
    * `(id, gram)` rows — the inverted-index input.
    */
  /** Round-robin the input across the session's cores when its current
    * partitioning is pathologically narrow. The heavy per-document map
    * stages here (tokenize → gram transform → explode → hash) inherit
    * the scan's partitioning, and a single-row-group parquet file scans
    * as ONE partition no matter the split settings — serializing the
    * whole text-processing stage onto one core. On a real multi-row-group
    * corpus the scan parallelizes naturally and this is a no-op (the
    * guard keeps an already-wide input untouched — repartitioning a
    * 1000-partition cluster scan down would be a pessimization). The
    * exchange moves the raw doc rows once, trivial next to the per-gram
    * work it parallelizes.
    */
  private[functions] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // The narrowness probe must not cost anything: `df.rdd` would run
    // full physical planning AND build the RDD DAG on the driver on
    // every call (and read the pre-AQE partitioning anyway). Instead,
    // estimate the SCAN width from the analyzed plan's file relations —
    // per file-format splitting, a relation yields at least one split
    // per file and ~one per `maxPartitionBytes` of data, so
    // max(files, bytes/maxSplit) is a floor on scan parallelism.
    // Callers apply spread() directly over the corpus scan, so a file
    // leaf is the expected shape; for non-file inputs (test
    // LocalRelations, already-shuffled intermediates — both already
    // parallel) the input passes through untouched.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val maxSplit = math.max(1L, df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val scanWidths = df.queryExecution.analyzed.collect {
      case LogicalRelation(f: HadoopFsRelation, _, _, _, _) =>
        val bytes = f.location.sizeInBytes
        math.max(f.location.inputFiles.length.toLong,
          (bytes + maxSplit - 1) / maxSplit).toInt
    }
    if (scanWidths.nonEmpty && scanWidths.sum < (target + 1) / 2) df.repartition(target)
    else df
  }

  def wordNgrams(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    gramSets(df, id, text, n).select(col("id"), explode(col("gs")).as("gram"))

  /** Per-document DISTINCT word n-gram SET as ONE map-side array column
    * `(id, gs)` — the shuffle-free twin of [[wordNgrams]] (identical set:
    * the explode of `gs` IS wordNgrams). Consumers that used to explode
    * grams and aggregate them straight back per doc (signatures, per-doc
    * gram counts) read the array directly instead: per-doc gram counts
    * are `size(gs)` in the same narrow projection and MinHash signatures
    * fold over `transform(gs, gramHash)` — zero exchanges where the r15
    * shape paid a full corpus explode + groupBy(id) shuffle (guide §2.4:
    * remove shuffles outright; §2.3: shuffle fewer bytes). Documents
    * with no non-empty gram are dropped, exactly as their absence from
    * the exploded form implied.
    */
  def gramSets(df: DataFrame, id: Column, text: Column, n: Int,
               extraCols: Column*): DataFrame = {
    val toks = TextOps.tokens(lower(text))
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))
    )
    // empty-doc exclusion happens BEFORE the projection, on the raw
    // text: `gs` is empty iff the text has no token iff it has no
    // non-whitespace char, so `rlike("\\S")` is the exact predicate —
    // and it pushes to the scan as a cheap regex. Filtering on
    // `size(gs) > 0` AFTER the projection instead made Catalyst push
    // the condition below the Project (and through Unions into every
    // scan branch), duplicating the whole tokenize→gram→distinct tree
    // into Filter nodes — measured 4× on p72 (the guide §4.4
    // duplication class, with built-in expressions instead of UDFs).
    spread(df.filter(text.rlike("\\S")))
      .select((id.as("id") +: extraCols) :+
        filter(array_distinct(grams), g => length(g) > 0).as("gs"): _*)
  }

  /** Within-bucket unordered pair generation as ONE hash aggregate plus
    * an in-partition combination explode — the join-free form of the
    * family's `l.join(r, blockingKeys).filter(id_a < id_b)` self-join
    * (guide §2.4: remove shuffles outright). The self-join shuffled the
    * bucketed table TWICE (one Exchange per side) and sort-merged both
    * sides; this shape shuffles it ONCE into `collect_list` buckets and
    * generates the identical pair set from the sorted entry array — no
    * join remains, so the p118 static-mis-broadcast class is closed
    * structurally rather than by a merge hint, and both sorts disappear.
    * Payload columns (vectors, per-doc gram counts) ride inside the
    * entry struct, which also deletes the separate fetch/sizes joins the
    * r15 shapes paid after candidate generation.
    *
    * `entry` must be a struct whose FIRST field is the id — `sort_array`
    * orders entries by it, and pairs are emitted positionally (i < j)
    * with a final `eb.id > ea.id` guard (equal-id entries — possible
    * when callers key on a 28-bit hash — are excluded exactly as the
    * join's `id_a < id_b` filter excluded them). Emitted rows: the
    * blocking keys plus `ea` / `eb` entry structs.
    *
    * Memory: one bucket's entries materialize as one aggregation-buffer
    * array, so bucket occupancy must be bounded — by construction
    * (occupancy-derived LSH config, ~targetClusterSize cells) or by
    * `maxBucket`. r17 (verdict ask #3): the cap EXCLUDES over-cap keys
    * BEFORE the collect — a partial-combined occupancy count (hot keys
    * collapse map-side) filtered to the over-cap set, anti-joined
    * against the input — so a corpus-scale stopword bucket never reaches
    * a collect_list buffer at all (the r16 form collected it first and
    * dropped it after, an unbounded single-key array: the §5
    * collect-skew OOM class). The over-cap set is bounded by
    * construction to ≤ |rows|/cap KEYS (each needs > cap occurrences),
    * so the SHUFFLE_HASH build side holds ≤ |rows|/(cap·partitions)
    * narrow key rows per task — the per-partition memory contract the
    * hint requires. The UNCAPPED oracle-exact twins are gate-scale by
    * contract (their quadratic pair output, not this buffer, is the
    * binding constraint). The generated pair stream is the same f²/2
    * rows per bucket the self-join produced, and flows map-side into
    * whatever partial aggregate consumes it.
    */
  private[functions] def bucketPairs(df: DataFrame, keys: Seq[String], entry: Column,
                                     maxBucket: Option[Int] = None): DataFrame = {
    val ks = keys.map(col)
    val in = maxBucket.fold(df) { c =>
      val over = df.groupBy(ks: _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > c).select(ks: _*)
      // anti-join output stays clustered by the keys, so the collect
      // aggregate below adds no further Exchange
      df.join(over.hint("shuffle_hash"), keys, "left_anti")
    }
    val buckets = in.groupBy(ks: _*).agg(sort_array(collect_list(entry)).as("es"))
    buckets
      .select(ks ++ Seq(col("es"), posexplode(col("es")).as(Seq("i", "ea"))): _*)
      // slice beyond the array end yields an empty array (no generated
      // row), so the last entry terminates cleanly under ANSI mode
      .select(ks ++ Seq(col("ea"),
        explode(slice(col("es"), col("i") + lit(2), size(col("es")))).as("eb")): _*)
      .filter(col("eb").getField("id") > col("ea").getField("id"))
  }

  /** n-gram Jaccard similarity for all pairs sharing ≥1 gram, via the
    * inverted-index join: |A∩B| from the gram self-join, |A|,|B| from
    * per-doc gram counts. Returns `(id_a, id_b, jaccard)` with
    * `id_a < id_b`, filtered to `jaccard >= minJaccard`.
    *
    * `maxGramDocFreq`: at corpus scale the self-join explodes on grams
    * occurring in many documents (a gram in f docs yields f² candidate
    * rows — stopword trigrams make this quadratic in corpus size).
    * Capping document frequency drops those grams from the INDEX side
    * only; per-doc totals stay exact, so the reported jaccard is a lower
    * bound and a pair is found iff it shares at least one sub-cap gram.
    * Near-duplicates always share rare grams, so dedup recall survives;
    * `None` keeps exact all-pairs semantics for oracle comparison.
    *
    * MEMORY CONTRACT (ADVICE r16): pair generation collects each gram
    * bucket into one in-memory array, so `None` also means an unbounded
    * per-bucket buffer — one stopword gram's bucket is corpus-scale. At
    * production scale ALWAYS pass a cap; with a cap, over-cap grams are
    * excluded before any buffer materializes (see [[bucketPairs]]).
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column, n: Int, minJaccard: Double,
                   maxGramDocFreq: Option[Int] = None): DataFrame = {
    // r16 shape (guide §2.4): per-doc gram counts are computed map-side
    // on the gram ARRAY (no sizes aggregate, and they ride through the
    // pair generator inside the entry struct, so the two sizes joins of
    // the r15 shape are gone), and the inverted-index SELF-JOIN on gram
    // is replaced by [[bucketPairs]] — one Exchange instead of two, no
    // sorts, no join for a static mis-estimate to turn into a broadcast
    // (the p118 class the merge pins guarded; see bucketPairs). Plan:
    // scan → explode → Exchange(gram) → collect buckets → pair explode →
    // partial count → Exchange(pair) — 2 exchanges where r15 had 5.
    val entries = gramSets(df, id, text, n)
      .select(explode(col("gs")).as("gram"),
        struct(col("id"), size(col("gs")).cast("long").as("ng")).as("e"))
    // maxGramDocFreq: the bucket size IS the gram's document frequency
    // (grams are distinct per doc), so the cap is a filter on the
    // collected bucket — replacing the r15 hot-gram aggregate +
    // broadcast anti-join. Per-doc totals stay exact (computed before
    // the cap), preserving the documented lower-bound semantics.
    bucketPairs(entries, Seq("gram"), col("e"), maxGramDocFreq)
      .groupBy(col("ea.id").as("id_a"), col("ea.ng").as("na"),
        col("eb.id").as("id_b"), col("eb.ng").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard_raw",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard_raw"), 6).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT detection: |A∩B| / min(|A|,|B|) ≥
    * `minContainment`, reported as `(contained, container, containment)`
    * with `contained` the smaller gram set (ties → smaller id). This is
    * the near-dup class symmetric Jaccard structurally misses: a 50-token
    * document fully quoted inside a 5000-token page has Jaccard ≈ 0.01
    * but containment 1.0 — the quote/wrapper/boilerplate-page case of
    * corpus dedup (Broder's "containment", SEQUENCES '97).
    *
    * Same inverted-index shape as [[jaccardPairs]] (never doc×doc; the
    * gram join is the only pair generator), same `maxGramDocFreq` cap
    * semantics — and the same MEMORY CONTRACT: `None` means an
    * unbounded per-bucket collect buffer; always cap at production
    * scale (over-cap grams are excluded pre-collect, see
    * [[bucketPairs]]).
    */
  def containmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
                       minContainment: Double,
                       maxGramDocFreq: Option[Int] = None): DataFrame = {
    // intersect on the 28-bit gram HASH, not the gram string: the
    // inverted-index shuffle carries 8-byte keys instead of ~6n-char
    // phrases (measured 6.2 s -> ~3 s at sf0.1), and both engines compute
    // the identical md5-derived hash, so results stay oracle-exact.
    // Hash collisions conflate identically on both sides (a doc's two
    // colliding grams yield duplicate hash entries, and the positional
    // pair generation reproduces the join's multiplicity product
    // exactly) — the standard fingerprinting trade every
    // winnowing/MinHash operator here already makes.
    // r16 shape (guide §2.4): per-doc totals (`ng` = hash-row count,
    // multiplicity included, exactly the r15 `sizes` count) are computed
    // map-side on the gram array and ride through [[bucketPairs]] inside
    // the entry struct — the self-join, the two sizes joins, the sizes
    // aggregate, and the lineage checkpoint that serviced those three
    // plan branches are all gone: the gram table is consumed once.
    val entries = gramSets(df, id, text, n)
      .select(explode(transform(col("gs"), g => gramHash(g))).as("h"),
        struct(col("id"), size(col("gs")).cast("long").as("ng")).as("e"))
    val aIsContained = col("na") < col("nb") ||
      (col("na") === col("nb") && col("id_a") < col("id_b"))
    bucketPairs(entries, Seq("h"), col("e"), maxGramDocFreq)
      .groupBy(col("ea.id").as("id_a"), col("ea.ng").as("na"),
        col("eb.id").as("id_b"), col("eb.ng").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment_raw",
        col("n_common").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment_raw") >= minContainment)
      .select(
        when(aIsContained, col("id_a")).otherwise(col("id_b")).as("contained"),
        when(aIsContained, col("id_b")).otherwise(col("id_a")).as("container"),
        round(col("containment_raw"), 6).as("containment"))
  }

  // ------------------------------------------------------------ MinHash

  /** 28-bit gram hash for MinHash permutations: first 7 hex chars of md5.
    * Bounded so `a*h + b` with `a,b < 2^31` stays below 2^59 — no long
    * overflow under ANSI mode, and portable to any engine with md5.
    */
  def gramHash(gram: Column): Column =
    conv(substring(md5(gram), 1, 7), 16, 10).cast("long")


  private val MersennePrime = (1L << 31) - 1

  /** Deterministic permutation parameters for MinHash (splitmix-style
    * constants; fixed seed so distributed retries are reproducible).
    * Bounded to `[1, 2^31)` to keep the modular arithmetic overflow-free.
    */
  def permutationParams(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z & Long.MaxValue) % MersennePrime
    }
    (0 until numHashes).map(_ => (math.max(1L, next()), next()))
  }

  /** MinHash signature: for each permutation `(a,b)`, the min over grams of
    * `(a*h + b) mod p` with `p = 2^31-1`. Computed entirely map-side: the
    * per-doc distinct gram SET is one [[gramSets]] array column, hashes
    * are a `transform` over it, and the fused [[expressions.MinHashSig]]
    * folds all permutations in one pass — ZERO shuffles. The r15 shape
    * exploded grams and `groupBy(id).collect_list`-ed them straight back:
    * a full corpus Exchange whose only purpose was re-assembling the
    * array this computes in place (guide §2.4). Identical values — the
    * collected multiset equals the transformed set (min is
    * order-insensitive), and docs with no grams are absent either way.
    * For the streaming dedup path this also removes a per-microbatch
    * aggregation entirely.
    */
  def minHashSignature(df: DataFrame, id: Column, text: Column, n: Int, numHashes: Int): DataFrame =
    gramSets(df, id, text, n).select(col("id"),
      graft.functions.expressions.MinHashSigs
        .minHashSigCol(transform(col("gs"), g => gramHash(g)), numHashes).as("signature"))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * hash each band, and emit `(band, bucket, id)` — the probe index
    * ([[lshCandidates]] self-joins it; [[graft.streaming.StreamingDedup]]
    * persists it). Map-side only; downstream joins shuffle just the
    * compact band keys.
    */
  def bandBuckets(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    // non-signature columns (id, a routing key) ride through the explode
    signatures.select(
      signatures.columns.filterNot(_ == "signature").map(col) :+
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)))
          )
        ).as(Seq("band", "bucket")): _*)

  /** MEMORY CONTRACT (ADVICE r16): each band bucket collects into one
    * in-memory array (see [[bucketPairs]]); occupancy is bounded by the
    * banding geometry ONLY when the input has no exact-duplicate
    * signature cohorts — a doc duplicated millions of times puts every
    * copy in one bucket. Route exact-dup-heavy or skewed corpora through
    * [[embeddingNearDupsLshSalted]]'s hot-split machinery (or exact-dedup
    * first, the standard pipeline order).
    */
  def lshCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // within-bucket pair generation via ONE aggregate — no self-join, no
    // second Exchange, no sorts, and structurally nothing left for a
    // static size mis-estimate to broadcast (see bucketPairs; bucket
    // occupancy is bounded by the banding geometry at near-dup
    // thresholds, the family contract)
    val banded = bandBuckets(signatures, bands, rowsPerBand)
    bucketPairs(banded.select(col("band"), col("bucket"), struct(col("id")).as("e")),
        Seq("band", "bucket"), col("e"))
      .select(col("ea.id").as("id_a"), col("eb.id").as("id_b")).distinct()
  }

  /** Signature-agreement Jaccard estimate for candidate pairs. */
  def estimatedJaccard(cands: DataFrame, sigs: DataFrame, numHashes: Int): DataFrame =
    estimatedJaccard(cands, sigs, sigs, numHashes)

  /** Split-sides form (r17, verdict ask #6): when every candidate's
    * `id_a` is known to come from a BOUNDED table (p58's per-batch docs)
    * while `id_b` may be store-scale, fetching sig_a from the bounded
    * table halves the per-batch corpus shuffle — the single-table form
    * exchanged the full accepted-signature store TWICE per micro-batch
    * (once per fetch leg) to serve a handful of candidate ids.
    */
  def estimatedJaccard(cands: DataFrame, sigsA: DataFrame, sigsB: DataFrame,
                       numHashes: Int): DataFrame = {
    val a = sigsA.select(col("id").as("id_a"), col("signature").as("sig_a"))
    val b = sigsB.select(col("id").as("id_b"), col("signature").as("sig_b"))
    // signature-fetch joins hash-build the CANDIDATE side (bounded by
    // banding collision mass), never the corpus-scale signature side:
    // the hinted side of a SHUFFLE_HASH join is the build side and AQE
    // respects the hint, so the p118 static-mis-broadcast class stays
    // closed while the signature side streams without the r15 merge
    // pin's sort (guide §3.1)
    cands.hint("shuffle_hash").join(a, "id_a")
      .hint("shuffle_hash").join(b, "id_b")
      .withColumn("est_jaccard",
        round(aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / numHashes, 6))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** End-to-end MinHash-LSH near-dup detection: LSH banding proposes
    * candidates (shuffle only on band keys), then EXACT n-gram Jaccard
    * verifies them — computed only for the candidate pairs, via a
    * candidate-restricted gram join. With `bands=32, rows=2` the
    * probability of missing a pair with true J ≥ 0.9 is ~1e-23, so the
    * output equals the exact-Jaccard answer with overwhelming probability
    * while never comparing all O(n²) pairs.
    */
  def minHashNearDups(df: DataFrame, id: Column, text: Column,
                      n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                      minJaccard: Double = 0.9): DataFrame = {
    val rows = numHashes / bands
    // r16 shape: ONE narrow map pass computes each doc's distinct gram
    // set, its size, and its MinHash signature (no gram explode, no
    // groupBy(id) — guide §2.4); banding + bucketPairs generate
    // candidates with one Exchange; exact Jaccard verifies candidates
    // from the per-doc gram ARRAYS — |A∩B| = size(array_intersect) on
    // distinct sets, exactly the r15 per-gram equi-join count — so the
    // corpus-sized gram table is never shuffled or sorted at all. The
    // two gram-fetch joins hash-build the CANDIDATE side (bounded by
    // banding collision mass, measured linear in n at near-dup
    // thresholds — p102/SCALE.md), never the corpus side: the hinted
    // side of a SHUFFLE_HASH join is the build side, and AQE respects
    // the hint, so no static mis-estimate can ever build a corpus-sized
    // relation (the p118 class) while the doc-array side streams
    // unsorted (the SMJ sort of the r15 merge pin was the premium the
    // re-floored family paid; guide §3.1).
    val g = gramSets(df, id, text, n).lckpt(eager = false)
    val sigs = g.select(col("id"),
      graft.functions.expressions.MinHashSigs
        .minHashSigCol(transform(col("gs"), gr => gramHash(gr)), numHashes).as("signature"))
    val cands = lshCandidates(sigs, bands, rows)
    val a = g.select(col("id").as("id_a"), col("gs").as("gs_a"))
    val b = g.select(col("id").as("id_b"), col("gs").as("gs_b"))
    cands.hint("shuffle_hash").join(a, "id_a")
      .hint("shuffle_hash").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long").as("n_common"),
        size(col("gs_a")).cast("long").as("na"), size(col("gs_b")).cast("long").as("nb"))
      .withColumn("jaccard_raw",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard_raw"), 6).as("jaccard"))
  }

  /** Chunk-level (passage) dedup signals — the sub-document form of
    * corpus dedup (RefinedWeb-style): each document is split into
    * NON-overlapping `chunkLen`-token windows, each window is md5-hashed,
    * and a chunk is "shared" when its hash occurs in ≥ 2 distinct
    * documents. Per-document output: `(doc_id, n_chunks, n_shared)` —
    * the curation signal for trimming boilerplate passages that exact
    * whole-doc dedup misses.
    *
    * Scale shape: chunking is a map-side explode (a handful of rows per
    * doc); the frequency table is one hash-keyed aggregate; the join back
    * is on the compact chunk hash. No all-pairs term anywhere.
    */
  def chunkDedupSignals(df: DataFrame, id: Column, text: Column,
                        chunkLen: Int = 32): DataFrame = {
    require(chunkLen >= 1, s"chunkLen must be positive: $chunkLen")
    val staged = df.filter(text.rlike("\\S"))
      .select(id.as("doc_id"), TextOps.tokens(lower(text)).as("ts"))
      .filter(size(col("ts")) > 0)
    val chunks = staged.select(col("doc_id"),
      explode(transform(
        sequence(lit(0), floor((size(col("ts")) - 1) / chunkLen).cast("int")),
        i => md5(concat_ws(" ", slice(col("ts"), i * chunkLen + 1, lit(chunkLen))))
      )).as("h"))
    // r17 (verdict ask #2): the r16 window counts (`count over (h)` >
    // `count over (h, doc_id)`) required every occurrence of one chunk
    // hash to colocate in ONE window partition with no map-side combine
    // — a boilerplate chunk shared by 10⁸ docs becomes one task sorting
    // 10⁸ rows, and AQE cannot split window exchanges. Restored to
    // PARTIAL-COMBINE aggregation: per-(h, doc) counts collapse hot keys
    // map-side, the per-h doc count is an aggregate over the already-
    // reduced pairs, and the join back is a plain equi-join AQE CAN
    // skew-split. `nd ≥ 2` ⟺ the r16 window predicate (total occurrences
    // exceed this doc's ⟺ another doc holds the hash). Merge-pinned:
    // the shared-hash set is corpus-derived (the p118 class).
    // both join sides CHECKPOINTED so the skew split can fire (bare
    // shuffle-stage sides — see duplicateSpans); perHD's checkpoint also
    // computes the chunk scan once instead of twice (it feeds both the
    // shared-set derivation and the join's left side)
    val perHD = chunks.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
      .lckpt(eager = false)
    val sharedH = perHD.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"), lit(1).as("sh"))
      .lckpt(eager = false)
    perHD.hint("merge").join(sharedH.hint("merge"), Seq("h"), "left")
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_chunks"),
        sum(when(col("sh") === 1, col("c")).otherwise(0L)).as("n_shared"))
  }

  /** Cross-corpus exact-substring duplicate spans — the token-k-gram
    * form of ExactSubstr dedup ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022): a token position is
    * duplicated when its k-token gram occurs ≥ 2 times ANYWHERE in the
    * corpus (another document or the same one — any second occurrence
    * counts, matching the suffix-array semantics for matches of length
    * ≥ k), and overlapping-or-adjacent duplicated positions merge into
    * maximal spans. The [[chunkDedupSignals]] complement: chunks are
    * non-overlapping and alignment-sensitive (a shared passage shifted
    * by one token produces disjoint chunk hashes); the sliding gram
    * catches shared passages at ANY offset and reports their exact
    * extent.
    *
    * Per-document output: `(doc_id, n_tokens, n_dup_spans, dup_tokens,
    * dup_bp)` — `dup_tokens` is the merged-span token mass and `dup_bp`
    * its fraction of the document in basis points,
    * `floor(dup_tokens·10⁴ / n_tokens)`. The quotient is computed in
    * doubles but is EXACT across engines: both operands are integers
    * ≪ 2⁵³ so IEEE division is correctly rounded, and the true quotient
    * is ≥ 1/n_tokens ≥ 2⁻³¹ away from any integer it isn't equal to,
    * while the rounding error is ≤ 10⁴·2⁻⁵³ — floor cannot cross.
    *
    * Scale shape: one linear position explode carrying only `(doc_id,
    * pos, gram-hash)` — never the gram STRING (64-bit xxhash64 identity;
    * a cross-gram collision falsely marks one gram duplicated, odds
    * ~n²/2⁶⁵ corpus-wide — at 10¹² positions ~30 spurious grams, noise
    * for a marking/stats signal; a deletion pipeline would widen to the
    * 128-bit md5 pair) — then one hash-keyed frequency aggregate (map-
    * side partial combine collapses each partition's repeats first), one
    * hash equi-join back (merge-pinned: the duplicated-gram set is
    * corpus-scale at a lake, and the static size estimate below the
    * explode cannot be trusted to keep it out of a broadcast; AQE
    * respects the hint, so small-SF runs pay the shuffle+sort — the
    * documented family trade, see [[jaccardPairs]]), and one per-doc
    * window whose partition is
    * bounded by document length. No doc×doc or gram×gram term at any
    * point.
    */
  def duplicateSpans(df: DataFrame, id: Column, text: Column,
                     k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val base = spread(df)
      .select(id.as("doc_id"), TextOps.tokens(lower(text)).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n_tokens"), col("ts"))
    val occ = base.filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_tokens") - k),
          i => xxhash64(concat_ws(" ", slice(col("ts"), i + 1, lit(k))))))
          .as(Seq("pos", "h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    // spans merge while the next duplicated position starts within (or
    // adjacent to) the previous gram's extent: break iff pos > prev + k.
    // r17 (verdict ask #2): "gram occurs ≥ 2 times" via a PARTIAL-COMBINE
    // frequency aggregate + semi-join back, not the r16 window count —
    // the window put every occurrence of one hot gram (a boilerplate
    // 8-gram occurring 10⁸ times corpus-wide) into ONE un-splittable
    // window partition; the aggregate collapses hot h map-side and the
    // semi-join is AQE-skew-splittable. Merge-pinned: the duplicated-
    // gram set is corpus-scale at a lake (the p118 class).
    // the dup-gram set is CHECKPOINTED: OptimizeSkewedJoin only splits a
    // join whose sides are bare Sort(shuffle-stage) reads — the
    // frequency aggregate sitting between the right sort and its shuffle
    // blocked the split (measured on an 8M-row hot gram, VERDICT.md r17
    // ledger row p115/p64/p93/p45 — split fires only off the
    // materialized set, 4.8-7.4 s window / 5.2-6.5 s inline agg / 3.4 s
    // checkpointed+split). The set holds one row per
    // DISTINCT duplicated gram — far below the occurrence table.
    val dupH = occ.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
      .lckpt(eager = false)
    val marked = occ.hint("merge")
      .join(dupH.hint("merge"), Seq("h"), "left_semi")
      .withColumn("brk",
        when(lag(col("pos"), 1).over(w).isNull
          .or(col("pos") > lag(col("pos"), 1).over(w) + k), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(w))
    val perDoc = marked.groupBy("doc_id", "span_id")
      .agg((max(col("pos")) - min(col("pos")) + k).as("span_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_dup_spans"),
        sum(col("span_len")).cast("int").as("dup_tokens"))
    // perDoc is one row per document WITH a duplicated span — corpus-
    // derived (its static size estimate descends through two aggregates
    // below an explode and reads broadcast-small at ANY scale), so the
    // r16 broadcast-audit review merge-pins it rather than baselining
    // the broadcast: at a lake this side is billions of rows
    base.select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"))
      .hint("merge")
      .join(perDoc.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0)).as("dup_tokens"),
        floor(coalesce(col("dup_tokens"), lit(0)) * lit(10000.0)
          / greatest(col("n_tokens"), lit(1))).cast("int").as("dup_bp"))
  }

  /** [[minHashNearDups]] with a routing key — the cross-lingual form of
    * corpus dedup: documents are first routed (e.g. by predicted
    * language) and near-duplicate detection runs WITHIN each route. The
    * route travels in the LSH blocking key `(route, band, bucket)`, so
    * two docs are candidates only if they route identically — a
    * same-text pair whose language predictions disagree is excluded by
    * construction, and at scale each route's bucket store is an
    * independently prunable partition (the multi-tenant layout
    * [[graft.streaming.StreamingDedup]] uses for its persistent store,
    * here keyed per language). Output: `(route, id_a, id_b, jaccard)`
    * for verified pairs — candidates from banding, EXACT n-gram Jaccard
    * on candidates only, never all-pairs.
    */
  def minHashNearDupsRouted(df: DataFrame, id: Column, text: Column, route: Column,
                            n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                            minJaccard: Double = 0.9): DataFrame = {
    val rows = numHashes / bands
    // same r16 shape as [[minHashNearDups]] — see there for the full
    // rationale — with the route riding the narrow map pass end to end:
    // it enters the signature projection (so banding carries it into the
    // blocking key with NO routes join; the r15 shape paid a corpus-sized
    // bandBuckets⋈routes join just to re-attach it) and the bucketPairs
    // key is (route, band, bucket), so cross-route pairs are never
    // generated, exactly as before.
    val routed = df.select(id.as("id"), route.as("route"), text.as("t"))
    val g = gramSets(routed, col("id"), col("t"), n, col("route")).lckpt(eager = false)
    val sigs = g.select(col("id"), col("route"),
      graft.functions.expressions.MinHashSigs
        .minHashSigCol(transform(col("gs"), gr => gramHash(gr)), numHashes).as("signature"))
    val banded = bandBuckets(sigs, bands, rows)
    val cands = bucketPairs(
        banded.select(col("route"), col("band"), col("bucket"), struct(col("id")).as("e")),
        Seq("route", "band", "bucket"), col("e"))
      .select(col("route"), col("ea.id").as("id_a"), col("eb.id").as("id_b")).distinct()
    val a = g.select(col("id").as("id_a"), col("gs").as("gs_a"))
    val b = g.select(col("id").as("id_b"), col("gs").as("gs_b"))
    cands.hint("shuffle_hash").join(a, "id_a")
      .hint("shuffle_hash").join(b, "id_b")
      .select(col("route"), col("id_a"), col("id_b"),
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long").as("n_common"),
        size(col("gs_a")).cast("long").as("na"), size(col("gs_b")).cast("long").as("nb"))
      .withColumn("jaccard_raw",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard_raw") >= minJaccard)
      .select(col("route"), col("id_a"), col("id_b"),
        round(col("jaccard_raw"), 6).as("jaccard"))
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Embedding-cosine near-duplicate pairs: all `(id_a < id_b)` with
    * cosine ≥ `minCos`. This exact form broadcasts one side — use it on a
    * bounded or pre-bucketed set; at corpus scale feed each
    * [[Similarity.lshBuckets]] bucket through it so the quadratic term is
    * per-bucket.
    */
  def embeddingNearDups(df: DataFrame, id: Column, vec: Column, minCos: Double): DataFrame = {
    // norms are computed ONCE PER ROW before the pair join (n array
    // folds instead of n² per side). sqrt(dot(v,v)) on the same data is
    // the same float ops as computing it inside cosine(), so the
    // quotient — and therefore the rounded output — is bit-identical to
    // the inline form; only redundant work is removed.
    // The probe side is repartitioned to the session's parallelism: the
    // nested-loop pair join inherits the LEFT side's partitioning, and a
    // single-row-group parquet scan is ONE partition — without the
    // round-robin exchange the whole n² verify runs on one core (6.4 s →
    // 0.8 s at sf0.1 on local[32]). The shuffle moves n rows, noise next
    // to the n² compute it parallelizes.
    val a = df.select(id.as("id_a"), vec.as("va"))
      .withColumn("na", Similarity.norm(col("va")))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val b = df.select(id.as("id_b"), vec.as("vb"))
      .withColumn("nb", Similarity.norm(col("vb")))
    // threshold on the ROUNDED cosine (the output precision): the raw
    // value's last ulps are accumulation-order-dependent and not
    // portable across engines, so a pair at the exact boundary could
    // otherwise flip membership vs the oracle
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos",
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Soft dedup: inverse-cluster-size training weights. Hard dedup
    * (keep one canonical doc per near-dup cluster) throws information
    * away when duplicates carry small variations; the standard
    * alternative down-WEIGHTS instead — every member of an n-doc cluster
    * trains at weight 1/n, so each piece of content contributes one
    * unit of gradient signal no matter how often it was crawled.
    *
    * `pairs` are near-dup edges (any generator: MinHash-LSH, embedding
    * cosine, containment); they collapse through the large-star/
    * small-star CC (no driver iteration), every id absent from the pair
    * set is its own singleton cluster (weight 1), and weights are exact
    * integer micros (`scale div n`) so they are engine-portable.
    * Returns `(vec_id, cluster, weight_micro)`. Scale shape: CC is
    * O(log n) rounds over the PAIR set only; the universe joins in once,
    * left, on the id.
    */
  def clusterWeights(universe: DataFrame, id: Column, pairs: DataFrame,
                     scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"weight scale must be positive: $scale")
    val comp = graft.plans.DfConnectedComponents.run(
      pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst")))
    val ids = universe.select(id.cast("long").as("vec_id"))
    val cl = ids.join(comp, ids("vec_id") === comp("id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).cast("long").as("cluster"))
    val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("n_members"))
    cl.join(sizes, "cluster")
      .select(col("vec_id"), col("cluster"),
        expr(s"${scale}L div n_members").as("weight_micro"))
  }

  /** Corpus-scale variant of [[embeddingNearDups]]: sign-LSH blocking
    * first — vectors are candidates only if they share a bucket in at
    * least one of `tables` independent hyperplane tables — then exact
    * cosine verifies candidates. The all-pairs join never happens: the
    * only shuffles are on compact `(table, bucket)` keys and the
    * candidate-id joins, so cost tracks candidates, not n². Precision is
    * exact (every emitted pair is verified); recall rises with `tables`
    * and falls with `planesPerTable` — at near-dup thresholds
    * (cos ≥ 0.9) a handful of 4-plane tables recovers almost everything
    * (asserted in DedupSpec).
    */
  /** Resolve the sign-LSH table shape for a near-dup run. `0` (the
    * DEFAULT) means "derive from this corpus": one `count()` scan feeds
    * [[Similarity.lshConfigFor]], which holds expected bucket occupancy
    * constant so candidate mass stays LINEAR in corpus size. A fixed
    * plane count is a deferred quadratic (occupancy `n / 2^planes`
    * grows with n; per-table candidate mass `n² / 2^planes` — measured
    * ×4 per corpus doubling at the old (4, 6) default in the sf2.0
    * rehearsal, vs ×2.5 and 7× faster derived). Explicit positive
    * values pin the shape for reproducing a historical pair set; the
    * linear count scan is noise next to the pair-join it configures.
    */
  private def resolveLshShape(df: DataFrame, minCos: Double,
                              planesPerTable: Int, tables: Int): (Int, Int) = {
    require((planesPerTable == 0) == (tables == 0),
      s"pass both planesPerTable and tables or neither: ($planesPerTable, $tables)")
    if (planesPerTable > 0) (planesPerTable, tables)
    else Similarity.lshConfigFor(math.max(1L, df.count()), minCos)
  }

  def embeddingNearDupsLsh(df: DataFrame, id: Column, vec: Column, minCos: Double,
                           dim: Int, planesPerTable: Int = 0, tables: Int = 0): DataFrame = {
    val (pl, tb) = resolveLshShape(df, minCos, planesPerTable, tables)
    // Vectors and their norms ride THROUGH the bucket self-join and the
    // cosine verifies INLINE on the join output, so only SURVIVING pairs
    // (near-dups) ever reach a shuffle. The earlier shape — candidate ids
    // → distinct → two vector-fetch joins → verify — shuffled the full
    // candidate set three times, and candidate mass is per-bucket
    // quadratic (fixed 2^planes buckets ⇒ occupancy ∝ n ⇒ candidates ∝
    // n²/2^planes): at the sf1.0 rehearsal (20k vectors, ~75M candidates)
    // that was 139 s while the BRUTE-FORCE broadcast loop took 14 s. The
    // cost of inline verify is re-verifying a pair once per table it
    // collides in (bounded by `tables`, and only near-dups collide in
    // many tables) — pure codegen arithmetic, noise next to three
    // candidate-set shuffles. Payload replication is `tables` copies of
    // each vector through one exchange, linear in n. Norms are
    // precomputed once per row (same float ops as inline norm(), so the
    // rounded quotient — and the oracle-checked output — is
    // bit-identical; same argument as embeddingNearDups).
    val data = df.select(id.as("id"), vec.as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val bucketed = lshBucketed(data, col("v"), dim, pl, tb)
    // r16: the bucket self-join is replaced by bucketPairs (one Exchange
    // of the tables×-replicated vector rows instead of two, both SMJ
    // sorts gone, and no join left for a static mis-estimate to turn
    // into a corpus-side broadcast — see bucketPairs). Bucket occupancy
    // is bounded by the occupancy-derived config (lshConfigFor), so the
    // per-bucket entry array is bounded by construction.
    bucketPairs(bucketed.select(col("tbl"), col("bucket"),
        struct(col("id"), col("v"), col("nv")).as("e")), Seq("tbl", "bucket"), col("e"))
      // threshold on the ROUNDED cosine, matching embeddingNearDups: raw
      // last-ulps aren't portable across engines, and the exact/LSH twins
      // must agree on boundary pairs
      .select(col("ea.id").as("id_a"), col("eb.id").as("id_b"),
        round(Similarity.dot(col("ea.v"), col("eb.v"))
          / (col("ea.nv") * col("eb.nv")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .distinct()
  }

  /** [[embeddingNearDupsLsh]] with AUTOMATIC hot-bucket salting — the
    * acting half of the p102 skew monitor. LSH candidate cost is
    * per-bucket quadratic, so one hot bucket (a dense embedding region, a
    * boilerplate cluster) serializes the whole self-join onto one reducer
    * at 100 TB. This variant first computes the same bucket-occupancy
    * profile p102 reports, then splits every bucket with more than
    * `hotThreshold` members into `k = ceil(c / shardTarget)` hash shards
    * and generates candidates per ORDERED SHARD PAIR `(i ≤ j)`: a member
    * in shard `s` enters the left side under `(i=s, j ∈ [s,k))` and the
    * right side under `(i ∈ [0,s], j=s)`, so every cross-shard pair meets
    * under exactly one `(i,j)` key (shard order picks the sides, so pairs
    * are normalized to `(min id, max id)` afterwards rather than filtered
    * on id order). Total candidate work is unchanged (that is
    * inherent to LSH); what changes is its DISTRIBUTION — a c²-cost
    * bucket becomes k(k+1)/2 independent join keys of (c/k)² cost each,
    * at a replication cost of k+1 rows per hot-bucket member. Cold
    * buckets take the plain single-key path. Output is bit-identical to
    * [[embeddingNearDupsLsh]] (asserted in DedupSpec and by p103 sharing
    * p22's oracle).
    */
  /** Per-table sign-LSH bucketing: unions one `(…data cols…, tbl,
    * bucket)` projection per table, with the shared `seed = 7 + t`
    * hyperplane constants. The SINGLE source of the bucket definition —
    * the pair generators (p22/p32/p86/p88), the occupancy monitor
    * (p102), and the salted variant (p103) must all agree on it for
    * "the profile prices the real index" and "salted ≡ unsalted" to
    * hold, so the derivation lives exactly once.
    */
  private def lshBucketed(data: DataFrame, vec: Column, dim: Int,
                          planesPerTable: Int, tables: Int): DataFrame =
    (0 until tables).map { t =>
      val planes = Similarity.hyperplanes(planesPerTable, dim, seed = 7L + t)
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        Similarity.signBit(vec, p, i)
      }.reduce((a, b) => a.bitwiseOR(b))
      data.select(col("*"), lit(t).as("tbl"), bucket.as("bucket"))
    }.reduce(_ unionByName _)

  /** The p102 LSH occupancy monitor as a reusable profile: per table,
    * bucket count, vector count, largest bucket, and Σc² — the EXACT
    * candidate-pair mass the table generates (per-bucket cost is
    * quadratic). Single source of truth for the p102 query and for
    * [[deriveSaltingThresholds]], so the salting decision is driven by
    * the same numbers the monitor reports.
    */
  def lshOccupancyProfile(df: DataFrame, vec: Column, dim: Int,
                          planesPerTable: Int = 4, tables: Int = 6): DataFrame = {
    val bucketed = lshBucketed(df.select(vec.as("v")), col("v"),
      dim, planesPerTable, tables)
    bucketed.groupBy("tbl", "bucket").agg(count(lit(1)).as("c"))
      .groupBy("tbl")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_vectors"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * col("c")).as("sum_sq"))
  }

  /** Derive `(hotThreshold, shardTarget)` for
    * [[embeddingNearDupsLshSalted]] from a measured [[lshOccupancyProfile]]
    * — the cost model, not a hand-set constant. With total pair mass
    * `M = Σ_tables Σc²` and `partitions` reducers, the balanced share per
    * reducer is `m = M / partitions`:
    *
    *   - a bucket is HOT when its own pair mass exceeds `skewFactor · m`
    *     — i.e. `c > sqrt(skewFactor · m)` — because that single join
    *     key alone would carry a multiple of a fair reducer's work;
    *   - hot buckets shard to pieces of `shardTarget = sqrt(m)` vectors,
    *     so each ordered shard-pair key carries ≈ one fair share.
    *
    * Pass the TARGET cluster's reducer count: the decision scales with
    * deployment (on the 32-thread test rig almost nothing is hot; at
    * 2048 reducers the same profile salts its heavy buckets).
    */
  def deriveSaltingThresholds(profile: DataFrame, partitions: Int,
                              skewFactor: Double = 4.0): (Int, Int) = {
    require(partitions >= 1, s"partitions must be positive: $partitions")
    require(skewFactor > 0, s"skewFactor must be positive: $skewFactor")
    // coalesce: sum over an EMPTY profile is null, and Row.getLong cannot
    // unbox it — an empty corpus must degrade to the no-salting default,
    // not throw
    val total = profile.agg(coalesce(sum(col("sum_sq")), lit(0L)).cast("long"))
      .head().getLong(0)
    val m = math.max(1.0, total.toDouble / partitions)
    val hot = math.max(2, math.ceil(math.sqrt(skewFactor * m)).toInt)
    val shard = math.max(1, math.ceil(math.sqrt(m)).toInt)
    (hot, shard)
  }

  def embeddingNearDupsLshSalted(df: DataFrame, id: Column, vec: Column,
                                 minCos: Double, dim: Int,
                                 planesPerTable: Int = 0, tables: Int = 0,
                                 hotThreshold: Int = 100000,
                                 shardTarget: Int = 50000): DataFrame = {
    require(hotThreshold >= 1 && shardTarget >= 1,
      s"thresholds must be positive: hot=$hotThreshold shard=$shardTarget")
    val (pl, tb) = resolveLshShape(df, minCos, planesPerTable, tables)
    // Same inline-verify shape as [[embeddingNearDupsLsh]]: vectors and
    // precomputed norms ride through the pair-generating joins and the
    // rounded cosine gates BEFORE anything shuffles, so only survivors
    // reach the final distinct. Salting changes only the join KEYS the
    // candidate mass is spread over; the verify placement is the same
    // scale decision in both variants (the candidate-ids→distinct→fetch
    // shape re-shuffled the quadratic candidate set three times).
    val data = df.select(id.as("id"), vec.as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val bucketed = lshBucketed(data, col("v"), dim, pl, tb)
    // the monitor: per-bucket occupancy (exactly p102's first aggregate).
    // Only buckets OVER the threshold survive to the broadcast — at most
    // n_vectors·tables / hotThreshold rows, tiny by construction.
    val hot = bucketed.groupBy("tbl", "bucket").agg(count(lit(1)).as("c"))
      .filter(col("c") > hotThreshold)
      .select(col("tbl"), col("bucket"),
        ceil(col("c").cast("double") / shardTarget).cast("int").as("k"))
    val withK = bucketed.join(broadcast(hot), Seq("tbl", "bucket"), "left")
    val cold = withK.filter(col("k").isNull)
    // cold buckets: bucketPairs (one Exchange, no sorts, no join — see
    // bucketPairs; occupancy ≤ hotThreshold by the split, so the entry
    // array is bounded by construction)
    val coldPairs = bucketPairs(cold.select(col("tbl"), col("bucket"),
        struct(col("id"), col("v"), col("nv")).as("e")), Seq("tbl", "bucket"), col("e"))
    val hotRows = withK.filter(col("k").isNotNull)
      .withColumn("s", pmod(xxhash64(col("id")), col("k").cast("long")).cast("int"))
    // hot buckets: the same ordered-shard-pair keys as r15, but both
    // sides collect into ONE aggregate (two conditional collect_lists —
    // collect_list skips the other side's nulls) and the cross product
    // generates in-partition: one Exchange of the (k+1)-replicated rows
    // instead of two, no sorts. Per-key arrays hold one shard each
    // (~shardTarget rows), bounded by the derivation.
    val tagged = hotRows
      .withColumn("j", explode(sequence(col("s"), col("k") - 1)))
      .select(col("tbl"), col("bucket"), col("s").as("i"), col("j"),
        lit(true).as("isL"), struct(col("id"), col("v"), col("nv")).as("e"))
      .unionByName(hotRows
        .withColumn("i", explode(sequence(lit(0), col("s"))))
        .select(col("tbl"), col("bucket"), col("i"), col("s").as("j"),
          lit(false).as("isL"), struct(col("id"), col("v"), col("nv")).as("e")))
    val hotPairs = tagged.groupBy("tbl", "bucket", "i", "j")
      .agg(collect_list(when(col("isL"), col("e"))).as("ls"),
        collect_list(when(!col("isL"), col("e"))).as("rs"))
      .select(col("ls"), explode(col("rs")).as("eb"))
      .select(explode(col("ls")).as("ea"), col("eb"))
      .filter(col("ea.id") =!= col("eb.id"))
    def verify(pairs: DataFrame): DataFrame = pairs
      .withColumn("cos",
        round(Similarity.dot(col("ea.v"), col("eb.v"))
          / (col("ea.nv") * col("eb.nv")), 6))
      .filter(col("cos") >= minCos)
    // hot pairs normalize to (min, max) AFTER the verify rather than
    // generating in id order: a cross-shard pair meets under exactly ONE
    // (i,j) key, with the shard order — not the id order — deciding
    // which side is which. The cosine is swap-invariant (elementwise dot
    // accumulates in index order on both sides; the norm product
    // commutes), so verifying pre-normalization is bit-identical.
    verify(coldPairs)
      .select(col("ea.id").as("id_a"), col("eb.id").as("id_b"), col("cos"))
      .unionByName(verify(hotPairs)
        .select(least(col("ea.id"), col("eb.id")).as("id_a"),
          greatest(col("ea.id"), col("eb.id")).as("id_b"), col("cos")))
      .distinct()
  }

  // ------------------------------------------------------------ SimHash

  /** Number of signature bits in [[simHash]]. */
  val SimHashBits = 60

  /** 60-bit SimHash: per token hash, each bit votes ±1; the signature is
    * the sign vector packed into a non-negative long. The token hash is
    * the first 15 hex chars of md5 (same portability trick as
    * [[gramHash]]) so any engine with md5 can replicate the signature
    * bit-for-bit — 60 well-mixed bits is plenty for near-dup banding.
    * Bit arithmetic via array expressions — map-side only.
    */
  def simHash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = spread(df).select(id.as("id"), explode(TextOps.tokens(lower(text))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = toks.groupBy("id").agg(
      array((0 until SimHashBits).map { bit =>
        sum(when(col("h").bitwiseAND(lit(1L << bit)) =!= 0L, 1).otherwise(-1))
      }: _*).as("votes")
    )
    votes.select(
      col("id"),
      aggregate(
        zip_with(col("votes"), sequence(lit(0), lit(SimHashBits - 1)),
          (v, bit) => when(v > 0, pow(lit(2.0), bit).cast("long")).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x)
      ).as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ----------------------------------------------------------- SemDedup

  /** SemDedup-style semantic deduplication (Abbas et al. 2023, "SemDedup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster embeddings against a fixed centroid set,
    * then compare pairs ONLY within a cluster — any item with a
    * smaller-id cluster-mate at cosine ≥ `minCos` is marked dropped.
    * Returns every input row as `(vec_id, cluster, kept)`.
    *
    * Scale shape: the cluster id plays the role LSH buckets play in
    * [[embeddingNearDupsLsh]] — the quadratic pair term is bounded per
    * cluster, the corpus shuffles once on the cluster key, and centroids
    * are broadcast-constant driver state. Norms are precomputed per row
    * (the [[embeddingNearDups]] lesson), and the drop decision thresholds
    * the ROUNDED cosine so membership is engine-portable.
    */
  def semDedup(df: DataFrame, id: Column, vec: Column,
               cents: Seq[(Int, Seq[Double])], minCos: Double): DataFrame =
    semDedupPairs(
      Clustering.assignClusters(df, id, vec, cents)
        .withColumn("nv", Similarity.norm(col("v"))),
      minCos)

  /** SemDedup with the centroid count DERIVED from corpus mass — the
    * paper's own regime (Abbas et al. 2023 scale K with the corpus so
    * cluster size stays constant) and the p112 `lshConfigFor` discipline
    * applied to the k-means analogue: a FIXED K means cluster size ∝ n
    * and within-cluster pairs ∝ n² (measured 11.0× cost at 4× data,
    * SCALE.md r14); centroid counts are derived so expected cluster size
    * stays `targetClusterSize` and the pair term is LINEAR in n. All
    * derivations are pure integer arithmetic — `(count + target − 1) /
    * target` — so any engine re-derives them from the same counts.
    *
    * Two-level IVF recurrence, with NOTHING corpus-proportional ever
    * broadcast, globally sorted, or collected (the r15 form selected all
    * K = ⌈n/64⌉ fine centroids by a global `orderBy().limit(K)` — one
    * task holding K vector rows — and then broadcast them; both grow
    * linearly with the corpus, which is a hard ceiling at lake scale):
    *
    *  1. COARSE cells: the K1 = ⌈√⌈n/target⌉⌉ lowest-id vectors
    *     (faiss's IVF regime). K1 grows as √n — ~3×10⁴ cells for a
    *     10¹⁰-row corpus — so the `orderBy().limit(K1)` TakeOrdered and
    *     the broadcast argmax through
    *     [[Clustering.assignClustersBroadcast]] (n·K1 products) stay
    *     broadcast-sized at any realistic scale.
    *  2. FINE centroids are selected PER CELL after rows route to their
    *     argmax coarse cell: each cell elects its ⌈cellCount/target⌉
    *     lowest-id member rows via one cell-partitioned window
    *     (`row_number` + `count` over `ccl` — partition-local sort, no
    *     global order). A non-empty cell therefore always has ≥ 1 fine
    *     centroid, so the cell-keyed INNER join structurally cannot lose
    *     rows — the r15 fine→coarse routing step could strand a cell
    *     empty when two coarse centroids' rounded cosine tied at
    *     1.000000 (near-identical centroid vectors routing away from
    *     themselves), silently dropping every row whose own argmax still
    *     picked the emptied cell. That step no longer exists.
    *  3. Rows argmax over ONLY their own cell's fine centroids through a
    *     merge-pinned cell-keyed join: each task sees one cell's
    *     ~cellCount/target centroids, never the full K-proportional
    *     table (the p118 mis-broadcast class; see [[jaccardPairs]] for
    *     the family pin rationale). Expected work is n·√K products on
    *     balanced cells — the same n^1.5/8 budget as the r15 shape.
    *
    * Every cosine is rounded to 6dp and every tie breaks to the smaller
    * id, so an oracle replays the full two-level recurrence exactly.
    * Cluster ids are the electing row's id kept as LONG end-to-end — no
    * int cast, so ≥ 2³¹ ids (ScaleData tile offsets past 40 tiles)
    * neither wrap in Spark nor error in an oracle's CAST. `coarseCells`
    * overrides K1 (tests pin small cell geometries).
    *
    * What 100 TB pays: assignment quality is the usual IVF approximation
    * (a row near a cell boundary may assign to the second-best fine
    * centroid; dedup recall within the target cluster size is
    * unaffected because near-dup pairs route together with the same
    * probability k-means assignment gives them), and fine-centroid
    * election is per-cell rather than global — cluster sizes stay ~target
    * within every cell by construction.
    */
  def semDedupAuto(df: DataFrame, id: Column, vec: Column, minCos: Double,
                   targetClusterSize: Int = 64,
                   coarseCells: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetClusterSize >= 1, s"positive target cluster size: $targetClusterSize")
    val data = df.select(id.as("id"), vec.as("v"))
    val n = data.count()
    val k = math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)
    val k1 = coarseCells.getOrElse(math.ceil(math.sqrt(k.toDouble)).toInt)
    require(k1 >= 1 && k1 <= k, s"coarse cells out of range: $k1 of $k")
    // K1 lowest-id vectors — a TakeOrdered of √K rows, broadcast-sized
    val coarse = data.orderBy(col("id")).limit(k1)
      .select(col("id").as("cluster"), col("v").as("cvec"))
    // row → coarse cell (n·K1 broadcast product)
    val rc = Clustering.assignClustersBroadcast(df, id, vec, coarse)
      .select(col("id"), col("v"), col("nv"), col("cluster").as("ccl"))
    // fine centroids elected PER CELL: the ⌈cellCount/target⌉ lowest-id
    // rows of each cell — one partition-local window, no global sort
    val quota = floor((count(lit(1)).over(Window.partitionBy(col("ccl")))
      + lit(targetClusterSize - 1L)) / lit(targetClusterSize.toLong))
    val fine = rc
      .withColumn("rn", row_number().over(Window.partitionBy(col("ccl")).orderBy(col("id"))))
      .withColumn("q", quota)
      .filter(col("rn") <= col("q"))
      .select(col("ccl"), col("id").as("fcl"), col("v").as("cvec"),
        col("nv").as("ncv"))
    // row → fine centroid WITHIN its cell: cell-keyed join, merge-pinned
    // (both sides are corpus-proportional — the static-estimate
    // mis-broadcast class; see jaccardPairs), then the max(struct) argmax
    val assigned = rc.hint("merge").join(fine.hint("merge"), Seq("ccl"))
      .select(col("id"),
        struct(
          round(Similarity.dot(col("v"), col("cvec")) / (col("nv") * col("ncv")), 6)
            .as("cos"),
          (-col("fcl")).as("nc"),
          col("nv").as("nv"), col("v").as("v")).as("s"))
      .groupBy("id").agg(max(col("s")).as("m"))
      .select(col("id"), col("m.v").as("v"), (col("m.nc") * -1).as("cluster"),
        col("m.nv").as("nv"))
    semDedupPairs(assigned, minCos)
  }

  /** Shared pair stage of [[semDedup]]/[[semDedupAuto]]: compare pairs
    * ONLY within a cluster; any item with a smaller-id cluster-mate at
    * rounded cosine ≥ `minCos` is dropped. Input: `(id, v, cluster, nv)`.
    */
  private def semDedupPairs(assigned: DataFrame, minCos: Double): DataFrame = {
    // r16: within-cluster pairs via bucketPairs — one Exchange instead
    // of the cluster self-join's two, no sorts, no join to mis-plan (see
    // bucketPairs). Cluster sizes are ~targetClusterSize by derivation
    // (semDedupAuto) so the per-cluster entry array is bounded.
    val dropped = bucketPairs(assigned.select(col("cluster"),
        struct(col("id"), col("v"), col("nv")).as("e")), Seq("cluster"), col("e"))
      .filter(round(Similarity.dot(col("ea.v"), col("eb.v"))
        / (col("ea.nv") * col("eb.nv")), 6) >= minCos)
      .select(col("eb.id").as("id")).distinct()
    assigned.join(dropped.withColumn("hit", lit(1)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        when(col("hit").isNull, 1).otherwise(0).as("kept"))
  }

  // ----------------------------------- cross-document duplicate coverage

  /** How much of each document's LOCAL substring structure is shared with
    * at least one other document: per doc, the count of its winnowing
    * fingerprints (distinct by construction — [[TextOps
    * .winnowingFingerprints]] emits a sorted set) that also occur in ≥ 1
    * other document, and that count as a fraction of the doc's
    * fingerprints. This is the diagnostic form of exact-substring
    * deduplication: a high `shared_frac` flags documents whose content is
    * largely copied across the corpus even when no WHOLE-document dup
    * test fires. Documents shorter than the gram size k have no
    * fingerprints and are dropped.
    *
    * Scale shape: explode → one partial-combined frequency aggregate
    * over the fingerprint key → one AQE-skew-splittable equi-join back →
    * one doc-keyed aggregate. The frequency equals the fingerprint's
    * document frequency (per-doc fingerprints are distinct), so no
    * doc×doc pair is ever formed — the same inverted-index discipline as
    * [[jaccardPairs]]. Hot fingerprints (boilerplate shared by millions
    * of docs) collapse map-side in the aggregate and split in the join.
    */
  def sharedFingerprintCoverage(df: DataFrame, id: Column, text: Column,
                                k: Int = 5, w: Int = 8): DataFrame = {
    val fps = df.select(id.as("doc_id"),
      explode(TextOps.winnowingFingerprints(text, k, w)).as("fp"))
    // r17 (verdict ask #2): partial-combine document-frequency aggregate
    // + flagged join-back instead of a window count over fp — the window
    // colocated every occurrence of one hot (boilerplate) fingerprint in
    // one un-splittable partition; the aggregate collapses hot fps
    // map-side and the equi-join is AQE-skew-splittable. Merge-pinned:
    // the shared-fp set is corpus-derived (the p118 class).
    // checkpointed so the skew split can fire (bare shuffle-stage join
    // sides — see duplicateSpans)
    val dupFp = fps.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("fp"), lit(1).as("sh"))
      .lckpt(eager = false)
    fps.hint("merge").join(dupFp.hint("merge"), Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_fp"),
        sum(when(col("sh") === 1, 1).otherwise(0)).cast("int").as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / greatest(col("n_fp"), lit(1)), 4))
  }

  /** Bloom-prefiltered decontamination — the eval-set-too-big-to-
    * broadcast form of the p25 overlap check. The exact-broadcast form
    * ships the full eval fingerprint set to every node; when the held-out
    * corpus is itself large (every benchmark ever published, or a whole
    * eval SUITE of corpora), the exact set stops being broadcast-sized
    * but a Bloom filter of it never does: its size is fixed by
    * (expectedItems, fpp) alone — ~1.2 bytes/item at 1% — regardless of
    * fingerprint width or corpus size.
    *
    * Three stages, each with the 100 TB shape:
    *  1. build: `stat.bloomFilter` aggregates per-partition filters and
    *     OR-merges them treewise — one pass over eval, constant driver
    *     memory;
    *  2. prefilter: the sketch broadcasts and `mightContainLong` runs
    *     map-side over the train corpus — no join, no shuffle, and at
    *     fpp = 1 % it drops ≥ 99 % of non-leaked fingerprints where they
    *     sit;
    *  3. confirm: only the survivors (true leaks + the fpp sliver) join
    *     the exact eval set — a shuffle join whose input is a tiny
    *     fraction of the corpus, which is the join we could not afford on
    *     the full train side.
    *
    * The Bloom filter admits false positives but stage 3 removes them,
    * so the output is EXACTLY the exact-join answer (p51 shares p25's
    * oracle). The membership probe is a Scala UDF by necessity — sketch
    * lookup has no Catalyst builtin — but it is a primitive long →
    * boolean predicate over a broadcast value, evaluated inline in the
    * scan stage.
    */
  def bloomDecontaminate(trainFps: DataFrame, evalFps: DataFrame,
                         minShared: Long, expectedEvalFps: Long,
                         fpp: Double = 0.01): DataFrame = {
    val distinctEval = evalFps.select(col("fp")).distinct()
    val bf = distinctEval.stat.bloomFilter("fp", expectedEvalFps, fpp)
    val bc = trainFps.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((x: Long) => bc.value.mightContainLong(x))
    trainFps
      .filter(mightContain(col("fp")))
      .join(distinctEval, "fp")
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------- fuzzy record linkage

  /** Blocked fuzzy string matching (record linkage / entity resolution):
    * find pairs of records whose strings are within `maxDist` edits,
    * without ever comparing across blocks — the distributed analogue of
    * the reference's bibliographic matching (`Sources.fs:249-333`
    * resolves one reference at a time against CrossRef's fuzzy
    * `query.bibliographic` search; here the corpus matches against
    * itself in bulk).
    *
    * Scale shape: records first collapse to DISTINCT strings (min id as
    * the representative — natural-language record fields repeat heavily,
    * so this is a vocabulary-sized table); the self-join shuffles only
    * the blocking key; the quadratic verify term is bounded per block.
    * The verify uses the THRESHOLD form of levenshtein (returns -1 above
    * `maxDist`), which abandons a row pair as soon as the running
    * distance exceeds the bound — O(maxDist·len) per pair, not O(len²).
    * Edit distance is an exact integer: no float anywhere, any engine
    * agrees bit-for-bit.
    *
    * Blocking-key choice is the caller's recall/cost dial: equal first
    * token is standard for titles; a hot key (skewed block) bounds the
    * damage to that block and can be salted with a second key component.
    */
  def fuzzyPairs(df: DataFrame, id: Column, s: Column, blockKey: Column,
                 maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val recs = df.groupBy(s.as("s"), blockKey.as("k")).agg(min(id).as("id"))
    // r16: block self-join → bucketPairs (one Exchange, no sorts, no
    // join to mis-plan; see bucketPairs). Block sizes are the caller's
    // bounded-verify contract, so the per-block entry array is bounded.
    bucketPairs(recs.select(col("k"), struct(col("id"), col("s")).as("e")),
        Seq("k"), col("e"))
      .withColumn("dist", levenshtein(col("ea.s"), col("eb.s"), maxDist))
      .filter(col("dist") >= 0) // threshold form marks "too far" as -1
      .select(col("ea.id").as("id_a"), col("eb.id").as("id_b"), col("dist"))
  }
}
