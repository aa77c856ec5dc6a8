package graft.operators

import graft.core.Ckpt._
import graft.functions.{Anomaly, AsOf, Boilerplate, Clustering, Corpus, Dedup, Importance, Layout, Multimodal, Packing, Pq, Quality, Sampling, Scrub, Similarity, Sketch, TextOps}
import graft.pipeline.Cdc
import graft.sources.TpchGraph
import graft.sources.TpchGraph.table
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents` / `embeddings` /
  * `events`: dedup (exact / fingerprint / n-gram Jaccard / MinHash-LSH /
  * SimHash), text analysis, vector similarity, streaming, multimodal
  * plumbing.
  */
object PipelineQueries {

  /** The lambda-list SQL fragment for whitespace tokens in DuckDB. */
  private def sqlTokens(expr: String) =
    s"list_filter(regexp_split_to_array($expr, '\\s+'), x -> len(x) > 0)"

  /** p109 exclusion class, shared verbatim by the Spark filter (Java
    * regex) and the DuckDB oracle (RE2 — both accept `\x{hhhh}`):
    * literal brackets (they corrupt the oracle's bracket rendering and
    * its '['-count piece tally) and the characters where
    * `Character.isWhitespace` (BpeEncode's word boundary) disagrees
    * with the `\\s` tokenizer — Unicode spaces U+1680/U+2000–U+200A/
    * U+2028/U+2029/U+205F/U+3000 and the file/group/record/unit
    * separators U+001C–U+001F.
    */
  private val bpeOracleExcl =
    """[\[\]\x{001C}-\x{001F}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{205F}\x{3000}]"""

  /** p97/p117 shared oracle: Efraimidis–Spirakis weighted sample without
    * replacement, k = 25, weights = token counts, u = the deterministic
    * 28-bit content hash. p117's wave-merged store must reproduce this
    * verbatim (top-k of a union of per-wave top-k's is the union's
    * top-k).
    */
  private lazy val weightedSampleOracle: String = s"""
        SELECT doc_id, w, es_key FROM (
          SELECT doc_id,
                 CAST(len(${sqlTokens("lower(text)")}) AS DOUBLE) AS w,
                 round(ln((('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                           / 268435456.0))
                       / CAST(len(${sqlTokens("lower(text)")}) AS DOUBLE), 9) AS es_key
          FROM documents
          WHERE len(${sqlTokens("lower(text)")}) > 0)
        ORDER BY es_key DESC, doc_id LIMIT 25"""

  /** p113/p114 shared oracle: per-source HyperLogLog (m = 64, α₆₄ =
    * 0.709) over distinct token hashes, with ranks from exact integer
    * bit lengths (`length(bin(x))` — identical semantics on both
    * engines) and the small-range linear-counting branch. p114's
    * max-merged streaming store must reproduce this verbatim (max is
    * associative + idempotent).
    */
  private val hllOracle: String = s"""
        WITH toks AS (SELECT source AS grp, unnest(${sqlTokens("lower(text)")}) AS t
                      FROM documents),
        h AS (SELECT DISTINCT grp, ('0x' || substring(md5(t), 1, 7))::BIGINT AS h FROM toks),
        reg AS (SELECT grp, h % 64 AS bucket,
                       CASE WHEN h // 64 = 0 THEN 23
                            ELSE 23 - length(bin(h // 64)) END AS rank
                FROM h),
        regs AS (SELECT grp, bucket, max(rank) AS m_j FROM reg GROUP BY 1, 2),
        agg AS (SELECT grp, count(*) AS n_buckets,
                       sum(m_j * (bucket + 1)) AS reg_checksum,
                       sum(power(2.0, -m_j)) AS s_obs
                FROM regs GROUP BY 1),
        ex AS (SELECT grp, count(*) AS n_exact FROM h GROUP BY 1)
        SELECT ex.grp AS source, CAST(n_exact AS BIGINT) AS n_exact,
               CAST(n_buckets AS INT) AS n_buckets,
               CAST(reg_checksum AS BIGINT) AS reg_checksum,
               CAST(round(CASE WHEN 64 - n_buckets > 0
                               AND (0.709 * 4096.0) / ((64 - n_buckets) + s_obs) <= 160.0
                          THEN 64.0 * ln(64.0 / (64 - n_buckets))
                          ELSE (0.709 * 4096.0) / ((64 - n_buckets) + s_obs) END
                          * 1000000.0) AS BIGINT) AS hll_est_micro
        FROM ex JOIN agg USING (grp) ORDER BY source"""

  /** p67/p101 shared oracle: per-source KMV over the whole corpus. p67
    * computes it one-shot; p101 maintains the bottom-k store across
    * three arrival waves — bottom-k(union of bottom-k's) = bottom-k of
    * the union, so the maintained estimate must match verbatim.
    */
  private def kmvOracle: String = s"""
        WITH toks AS (SELECT source, unnest(${sqlTokens("lower(text)")}) AS t FROM documents),
        h AS (SELECT DISTINCT source, ('0x' || substring(md5(t), 1, 7))::BIGINT AS h FROM toks),
        r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        s AS (SELECT source, count(*) AS n_seen,
                     max(CASE WHEN rn <= 64 THEN h END) AS hk
              FROM r GROUP BY 1)
        SELECT source, CAST(n_seen AS BIGINT) AS n_exact,
               CAST(CASE WHEN n_seen < 64 THEN n_seen
                         ELSE (63 * 268435456) // greatest(hk, 1) END AS BIGINT) AS kmv_est
        FROM s ORDER BY source"""

  /** p69 oracle: rebuild the 4×2048 Count-Min matrix from the SAME
    * splitmix constants the Spark side uses ([[Dedup.permutationParams]]
    * interpolated as literals), then min-estimate the exact top-20.
    */
  private def cmsOracle: String = {
    val ps = graft.functions.Dedup.permutationParams(4, 42L)
    def branches(sel: String, from: String) = ps.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT $sel $i AS row, (($a * h + $b) % 2147483647) % 2048 AS bucket FROM $from"
    }.mkString(" UNION ALL ")
    s"""
      WITH toks AS (SELECT unnest(${sqlTokens("lower(text)")}) AS t FROM documents),
      occ AS (SELECT ('0x' || substring(md5(t), 1, 7))::BIGINT AS h FROM toks),
      counters AS (SELECT row, bucket, count(*) AS cnt
                   FROM (${branches("", "occ")}) GROUP BY 1, 2),
      top AS (SELECT t, count(*) AS n_exact FROM toks
              GROUP BY 1 ORDER BY n_exact DESC, t LIMIT 20),
      th AS (SELECT t, n_exact, ('0x' || substring(md5(t), 1, 7))::BIGINT AS h FROM top),
      pb AS (${branches("t, n_exact,", "th")})
      SELECT pb.t AS token, CAST(pb.n_exact AS BIGINT) AS n_exact,
             CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
      FROM pb LEFT JOIN counters c USING (row, bucket)
      GROUP BY 1, 2 ORDER BY n_exact DESC, token"""
  }

  /** Embedding dimensionality of the `embeddings` table (fixed across
    * scale factors; asserted implicitly — a mismatch makes the Spark and
    * oracle bucket expressions disagree and the gate fails loudly).
    */
  private val EmbDim = 64

  /** p88's standing CC labeling of the two-thirds `pairs` — the stored
    * state an incremental refresh amortizes in production; `run()` returns
    * a local checkpoint, which a replacing session frees.
    */
  private def p88Standing(s: org.apache.spark.sql.SparkSession, d: String,
                          pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.core.SessionMemo.withRelease(s, "p88_standing_cc", d) {
      graft.plans.DfConnectedComponents.run(
        pairs.filter(col("src") % 3 < 2 && col("dst") % 3 < 2))
    }(org.apache.spark.sql.graft.CatalystBridge.unpersistCheckpoint)

  /** Train/eval fingerprint-overlap oracle, shared by p25 (exact
    * broadcast semi-join) and p51 (Bloom prefilter + exact confirm):
    * both implementations must produce the IDENTICAL answer — the Bloom
    * pass only reorders where the filtering work happens.
    */
  private val decontaminationOracle = """
    WITH h AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(text) - 4),
               i -> (ascii(substring(text, i, 1)) * 923521
                   + ascii(substring(text, i + 1, 1)) * 29791
                   + ascii(substring(text, i + 2, 1)) * 961
                   + ascii(substring(text, i + 3, 1)) * 31
                   + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
      FROM documents
      WHERE length(text) >= 5),
    fps AS (
      SELECT doc_id, unnest(list_distinct(
             list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
               j -> list_min(hs[j:j+7])))) AS fp
      FROM h),
    eval_fps AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 97 = 0),
    train AS (SELECT DISTINCT doc_id, fp FROM fps WHERE doc_id % 97 <> 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM train JOIN eval_fps USING (fp)
    GROUP BY doc_id HAVING count(*) >= 3 ORDER BY doc_id"""

  /** DuckDB double-list literal, e.g. `[0.1, -0.2]::DOUBLE[]`. */
  private def doubleList(xs: Seq[Double]): String =
    xs.mkString("[", ", ", "]") + "::DOUBLE[]"

  /** p131/p132 shared change feed: the documents table as a versioned
    * CDC stream — v0 base upserts for every doc, v1 re-crawl upserts
    * (every 4th doc, text suffixed), v2 takedown tombstones (every
    * 17th), v3 post-takedown re-crawls (every 34th — resurrection).
    * Deterministic from doc_id, so the oracle rebuilds it in SQL.
    */
  private def cdcFeed(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), col("text"),
      lit(0L).as("version"), lit("upsert").as("op"))
    val recrawl = docs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [recrawl]")).as("text"),
        lit(1L).as("version"), lit("upsert").as("op"))
    val takedown = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"), lit("").as("text"),
        lit(2L).as("version"), lit("delete").as("op"))
    val restore = docs.filter(col("doc_id") % 34 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [restored]")).as("text"),
        lit(3L).as("version"), lit("upsert").as("op"))
    base.unionByName(recrawl).unionByName(takedown).unionByName(restore)
  }

  /** p14/p139 shared oracle: the lag + running-sum session numbering.
    * Both the batch sessionizer and the built-in `session_window` form
    * implement the identical `diff > gap` rule (Spark merges touching
    * windows — EventStreamSpec pins the boundary), so one oracle gates
    * both.
    */
  private val kappaOracle: String = """
        WITH l AS (
          SELECT CASE WHEN n_chars < 150 THEN 0
                      WHEN n_chars < 350 THEN 1 ELSE 2 END AS label_a,
                 CASE WHEN length(text) - length(replace(text, ' ', '')) < 25 THEN 0
                      WHEN length(text) - length(replace(text, ' ', '')) < 60 THEN 1
                      ELSE 2 END AS label_b
          FROM documents),
        cells AS (SELECT CAST(label_a AS BIGINT) AS label_a,
                         CAST(label_b AS BIGINT) AS label_b,
                         CAST(count(*) AS BIGINT) AS n_docs
                  FROM l GROUP BY 1, 2),
        rt AS (SELECT label_a AS k, sum(n_docs) AS ra FROM cells GROUP BY 1),
        ct AS (SELECT label_b AS k, sum(n_docs) AS rb FROM cells GROUP BY 1),
        st0 AS (SELECT
                  (SELECT sum(n_docs) FROM cells) AS n_total,
                  (SELECT coalesce(sum(CASE WHEN label_a = label_b
                     THEN n_docs END), 0) FROM cells) AS agree,
                  (SELECT coalesce(sum(ra * rb), 0)
                   FROM rt JOIN ct ON ct.k = rt.k) AS pesum),
        st1 AS (SELECT CAST(n_total AS BIGINT) AS n_total,
                       CAST(agree * 1000000 // n_total AS BIGINT) AS po_ppm,
                       CAST(pesum * 1000000 // (n_total * n_total) AS BIGINT) AS pe_ppm
                FROM st0),
        st AS (SELECT n_total, po_ppm, pe_ppm,
                      CAST(CASE
                        WHEN 1000000 - pe_ppm <= 0 THEN 0
                        WHEN po_ppm >= pe_ppm
                          THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
                        ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm))
                      END AS BIGINT) AS kappa_ppm
               FROM st1)
        SELECT c.label_a, c.label_b, c.n_docs,
               st.n_total, st.po_ppm, st.pe_ppm, st.kappa_ppm
        FROM cells c CROSS JOIN st
        ORDER BY c.label_a, c.label_b"""

  private val sessionizeOracle: String = """
        WITH t AS (
          SELECT user_id, ts, event_id, value,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events),
        s AS (
          SELECT user_id, ts, event_id, value,
                 sum(CASE WHEN prev_ts IS NULL
                          OR epoch(date_trunc('second', ts))
                             - epoch(date_trunc('second', prev_ts)) > 1800
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
          FROM t)
        SELECT user_id,
               strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value),2) AS sum_value
        FROM s GROUP BY user_id, session_no
        ORDER BY user_id, session_start"""

  /** p131/p132 shared oracle: rebuild the deterministic feed, pick the
    * per-key winner by (version, tombstone-rank), drop tombstones.
    */
  private val cdcOracle: String = """
        WITH feed AS (
          SELECT doc_id, text, 0 AS version, 'upsert' AS op FROM documents
          UNION ALL
          SELECT doc_id, text || ' [recrawl]', 1, 'upsert' FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id, '', 2, 'delete' FROM documents WHERE doc_id % 17 = 0
          UNION ALL
          SELECT doc_id, text || ' [restored]', 3, 'upsert' FROM documents WHERE doc_id % 34 = 0),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY version DESC,
                         CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC) AS rn
              FROM feed)
        SELECT doc_id, CAST(version AS BIGINT) AS version,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM r WHERE rn = 1 AND op <> 'delete' ORDER BY doc_id"""

  /** DuckDB replica of p130 — the dedup endgame at the CORPUS-DERIVED
    * sign-LSH config (the operator default): blocking → inline cosine
    * verify → recursive-CTE CC collapse, plus the derived
    * `(planes, tables)` as output columns. The config DERIVATION runs
    * in SQL from `count(*)` (p112's formulas at the single threshold
    * 0.4), so a Spark/SQL derivation drift hash-fails the planes/tables
    * columns; the seeded plane CONSTANTS — whose count depends on that
    * derivation — are spliced at Verify time by
    * [[DerivedLshGolden]] (unprepared, `bk` stays a typed zero-row seed
    * and the gate fails loudly on 0 rows).
    */
  private def derivedLshEndgameOracle: String =
    s"""
        WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        nn AS (SELECT count(*)::BIGINT AS n FROM v),
        base AS (
          SELECT nn.n, 1.0 - acos(0.4) / pi() AS p,
                 greatest(1, CAST(ceil(round(ln(nn.n / 256.0) / ln(2.0), 6)) AS INT))
                   AS planes0
          FROM nn),
        candc AS (
          SELECT n, p, planes0, unnest(generate_series(1, planes0)) AS pl
          FROM base),
        tf AS (
          SELECT *, CASE WHEN power(p, pl) >= 1.0 THEN 1
                         ELSE CAST(ceil(round(ln(1.0 - 0.9) / ln(1.0 - power(p, pl)), 6)) AS INT)
                    END AS tbls
          FROM candc),
        pick AS (
          SELECT any_value(p) AS p,
                 coalesce(max(pl) FILTER (WHERE tbls <= 64), 1) AS planes
          FROM tf),
        cfg AS (
          SELECT pick.planes, least(64, tf.tbls) AS tables
          FROM pick JOIN tf ON tf.pl = pick.planes),
        bk AS (
          SELECT CAST(NULL AS INT) AS tbl, CAST(NULL AS BIGINT) AS vec_id,
                 CAST(NULL AS BIGINT) AS bucket WHERE FALSE
          ${DerivedLshGolden.Marker}),
        candp AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id),
        pr AS (
          SELECT id_a, id_b, round(list_cosine_similarity(va.e, vb.e), 6) AS cos
          FROM candp
          JOIN v va ON va.vec_id = candp.id_a
          JOIN v vb ON vb.vec_id = candp.id_b),
        pairs AS (SELECT id_a, id_b FROM pr WHERE cos >= ${DerivedLshGolden.MinCos}),
        edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        SELECT CAST(component AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(*) - 1 AS BIGINT) AS n_dropped,
               (SELECT planes FROM cfg) AS planes,
               (SELECT tables FROM cfg) AS tables
        FROM comp GROUP BY 1 ORDER BY 1"""

  /** Full-recompute cluster-collapse oracle over the embedding near-dup
    * graph (cosine ≥ 0.4), shared by p24 (one-shot CC) and p88
    * (incremental CC maintenance): both must produce the IDENTICAL
    * answer — the incremental path only changes where the work happens,
    * exactly like the p25/p51 shared-oracle pattern.
    */
  private val nearDupClusterOracle = """
        WITH RECURSIVE v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4),
        edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          -- only labels smaller than the receiving id can ever be a
          -- component min (the min label is below every other member),
          -- so pruning r.lbl >= e.s bounds the recursion without
          -- changing min(lbl)
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        SELECT CAST(component AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(*) - 1 AS BIGINT) AS n_dropped
        FROM comp GROUP BY 1 ORDER BY 1"""

  /** DuckDB replica of p58: the full MinHash recurrence with the
    * [[Dedup.permutationParams]] constants inlined (deterministic, seed
    * 42 — the same trick as the LSH plane literals), then the greedy
    * batch-then-id acceptance replayed with three NOT-EXISTS steps.
    *
    * Two exactness points make this hash-stable: (a) `est ≥ 0.9` over 64
    * hashes is the INTEGER rule `matches ≥ 58`; (b) est ≥ 0.9 implies
    * ≥ 20 intact signature bands, so the LSH candidate step can never
    * miss a pair the threshold accepts — banding needs no replica.
    * Within a batch a doc drops against any smaller-id batch-mate
    * (accepted or not); across batches only against the accepted store.
    *
    * The chained CTEs carry MATERIALIZED hints: DuckDB 1.0 otherwise
    * INLINES each reference, and acc2→{acc1→acc0, acc0}, each dragging
    * the full sig/m/me subtree, re-computes the signature pipeline
    * combinatorially — measured at sf0.1: >15 min then a crash under a
    * 2 GB memory cap, vs 1 s materialized (identical rows at both SFs).
    * This was the gate's one documented flake (r12 "re-run p58 alone"
    * procedure); the hints remove the manual step.
    */
  private def streamingDedupOracle: String = {
    val perms = Dedup.permutationParams(64).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""
        WITH perm AS MATERIALIZED (SELECT * FROM (VALUES $perms) AS t(i, a, b)),
        toks AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(ts)-2, 1)),
                          i -> array_to_string(ts[i:i+2], ' '))) AS gram
            FROM toks)
          WHERE len(gram) > 0),
        gh AS (SELECT doc_id, ('0x' || substring(md5(gram), 1, 7))::BIGINT AS h
               FROM grams),
        sig AS MATERIALIZED (SELECT doc_id, i, min((a * h + b) % 2147483647) AS v
                FROM gh CROSS JOIN perm GROUP BY doc_id, i),
        m AS MATERIALIZED (SELECT x.doc_id AS id_a, y.doc_id AS id_b
              FROM sig x JOIN sig y ON x.i = y.i AND x.v = y.v
                                   AND x.doc_id < y.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 58),
        me AS MATERIALIZED (SELECT id_a AS s, id_b AS t FROM m
               UNION ALL SELECT id_b, id_a FROM m),
        docs AS (SELECT DISTINCT doc_id FROM grams),
        acc0 AS MATERIALIZED (SELECT doc_id FROM docs d WHERE doc_id % 3 = 0
                 AND NOT EXISTS (SELECT 1 FROM m WHERE m.id_b = d.doc_id
                                 AND m.id_a % 3 = 0)),
        acc1 AS MATERIALIZED (SELECT doc_id FROM docs d WHERE doc_id % 3 = 1
                 AND NOT EXISTS (SELECT 1 FROM m WHERE m.id_b = d.doc_id
                                 AND m.id_a % 3 = 1)
                 AND NOT EXISTS (SELECT 1 FROM me JOIN acc0 ON acc0.doc_id = me.s
                                 WHERE me.t = d.doc_id)),
        acc2 AS MATERIALIZED (SELECT doc_id FROM docs d WHERE doc_id % 3 = 2
                 AND NOT EXISTS (SELECT 1 FROM m WHERE m.id_b = d.doc_id
                                 AND m.id_a % 3 = 2)
                 AND NOT EXISTS (SELECT 1 FROM me JOIN acc0 ON acc0.doc_id = me.s
                                 WHERE me.t = d.doc_id)
                 AND NOT EXISTS (SELECT 1 FROM me JOIN acc1 ON acc1.doc_id = me.s
                                 WHERE me.t = d.doc_id))
        SELECT doc_id FROM acc0
        UNION ALL SELECT doc_id FROM acc1
        UNION ALL SELECT doc_id FROM acc2
        ORDER BY doc_id"""
  }

  /** Sign-LSH bucket over `vecExpr` for one hyperplane table, as DuckDB
    * SQL with the (deterministic, seeded) plane components inlined as
    * literals — the exact twin of the `when(round(dot(v, plane), 6) > 0,
    * 1<<i)` column in [[Similarity.signBit]] (folded per table by
    * [[Similarity.lshBucket]], used by [[Dedup.embeddingNearDupsLsh]]).
    */
  private def lshBucketSql(vecExpr: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN round(list_inner_product($vecExpr, ${doubleList(p)}), 6) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB replica of [[Similarity.lshTopK]] (p11): per-table buckets
    * for data and query with plane literals inlined; candidates share a
    * bucket in ≥1 table; exact cosine re-ranks.
    */
  private def lshAnnOracle: String = {
    val conds = (0 until 4).map { t =>
      val planes = Similarity.hyperplanes(8, EmbDim, seed = 7L + t)
      s"(${lshBucketSql("e", planes)}) = (${lshBucketSql("qe", planes)})"
    }.mkString("\n           OR ")
    s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
        cand AS (
          SELECT v.vec_id, v.e, q.qe FROM v CROSS JOIN q
          WHERE $conds)
        SELECT vec_id AS id, round(list_cosine_similarity(e, qe), 6) AS cos
        FROM cand ORDER BY cos DESC, id LIMIT 10"""
  }

  /** The CTE chain (no leading WITH) replicating
    * [[Dedup.embeddingNearDupsLsh]]: 6 union'd bucket tables (plane
    * literals inlined) → self-join on (tbl, bucket) → exact cosine
    * verify. `pr` holds the candidate pairs with rounded cosine.
    */
  private def lshPairCtes: String = {
    val buckets = (0 until 6).map { t =>
      val planes = Similarity.hyperplanes(4, EmbDim, seed = 7L + t)
      s"SELECT $t AS tbl, vec_id, ${lshBucketSql("e", planes)} AS bucket FROM v"
    }.mkString("\n          UNION ALL ")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        bk AS (
          $buckets),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                             AND a.vec_id < b.vec_id),
        pr AS (
          SELECT id_a, id_b, round(list_cosine_similarity(va.e, vb.e), 6) AS cos
          FROM cand
          JOIN v va ON va.vec_id = cand.id_a
          JOIN v vb ON vb.vec_id = cand.id_b)"""
  }

  /** DuckDB replica of [[Dedup.embeddingNearDupsLsh]] (p22). */
  private def lshNearDupOracle: String =
    s"""
        WITH $lshPairCtes
        SELECT id_a, id_b, cos FROM pr WHERE cos >= 0.4 ORDER BY id_a, id_b"""

  /** p123/p128 shared oracle: the water-filling allocation over
    * (source, lang) token masses at budget 3/5. p128's wave-merged mass
    * store must reproduce it verbatim (sum is associative).
    */
  private lazy val waterfillOracle: String = s"""
        WITH d AS (SELECT source || '/' || lang AS stratum,
                          CAST(len(${sqlTokens("lower(text)")}) AS BIGINT) AS tok
                   FROM documents),
        m AS (SELECT stratum, CAST(sum(tok) AS BIGINT) AS n FROM d GROUP BY 1),
        st AS (SELECT stratum, n,
                      CAST(coalesce(sum(n) OVER (ORDER BY n, stratum
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
                      row_number() OVER (ORDER BY n, stratum) AS k,
                      count(*) OVER () AS s_total,
                      CAST(sum(n) OVER () AS BIGINT) AS total
               FROM m),
        st2 AS (SELECT *, CAST(total * 3 // 5 AS BIGINT) AS budget,
                       s_total - k + 1 AS r FROM st),
        cp AS (SELECT CAST((budget - prefix) // r AS BIGINT) AS cap
               FROM st2 WHERE prefix + n * r > budget ORDER BY k LIMIT 1)
        SELECT stratum, n AS n_tokens,
               CAST(CASE WHEN (SELECT cap FROM cp) IS NULL THEN n
                         ELSE least(n, (SELECT cap FROM cp)) END AS BIGINT) AS allocated,
               coalesce(n > (SELECT cap FROM cp), FALSE) AS capped,
               (SELECT cap FROM cp) AS water_level, budget
        FROM st2 ORDER BY stratum"""

  /** DuckDB replica of p121: the p22 LSH pair set symmetrized → top-1
    * positive per anchor; hardest different-label candidate per anchor
    * (p85's shape restricted to anchors with a positive) → top-1
    * negative; inner join drops anchors with no trainable negative.
    */
  private def contrastiveTripletsOracle: String = s"""
        WITH $lshPairCtes,
        pos0 AS (SELECT id_a, id_b, cos FROM pr WHERE cos >= 0.4),
        sym AS (SELECT * FROM (
                  SELECT id_a AS anchor, id_b AS pos_id, cos FROM pos0
                  UNION ALL SELECT id_b, id_a, cos FROM pos0)
                WHERE anchor < 1000),
        posr AS (SELECT anchor, pos_id, cos AS pos_cos,
                        row_number() OVER (PARTITION BY anchor
                                           ORDER BY cos DESC, pos_id) AS rn
                 FROM sym),
        pos AS (SELECT anchor, pos_id, pos_cos FROM posr WHERE rn = 1),
        lv AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        negp AS (SELECT p.anchor, c.vec_id AS neg_id,
                        round(list_cosine_similarity(av.e, c.e), 6) AS neg_cos
                 FROM (SELECT DISTINCT anchor FROM pos) p
                 JOIN lv av ON av.vec_id = p.anchor
                 JOIN lv c ON c.vec_id <> p.anchor AND c.label <> av.label),
        negr AS (SELECT anchor, neg_id, neg_cos,
                        row_number() OVER (PARTITION BY anchor
                                           ORDER BY neg_cos DESC, neg_id) AS rn
                 FROM negp),
        neg AS (SELECT anchor, neg_id, neg_cos FROM negr WHERE rn = 1)
        SELECT pos.anchor, pos.pos_id, pos.pos_cos, neg.neg_id, neg.neg_cos
        FROM pos JOIN neg USING (anchor) ORDER BY anchor"""

  /** DuckDB replica of p32: connected components (semi-naive recursive
    * CTE, labels pruned to `lbl < id` — only a below-everyone label can
    * be a component min) over the LSH pair set, then one keeper per
    * component. Same collapse as p24's oracle, but over the
    * literal-inlined LSH pairs instead of exact all-pairs.
    */
  /** DuckDB replica of `Corpus.bpeTrainRounds`: the merge-train loop
    * unrolled — per round pair counts → argmax merge → gaps-and-islands
    * greedy-leftmost apply, each round's symbolization feeding the next.
    */
  private def bpeTrainOracle(rounds: Int): String = {
    def lvl(n: Int) = s"""
        pr_$n AS (SELECT word, freq, pos, s,
            lead(s) OVER (PARTITION BY word ORDER BY pos) AS s2 FROM sym_$n),
        top_$n AS (SELECT s AS s1, s2, CAST(sum(freq) AS BIGINT) AS c
                   FROM pr_$n WHERE s2 IS NOT NULL GROUP BY s, s2
                   ORDER BY c DESC, s, s2 LIMIT 1),
        m_$n AS (SELECT p.word, p.pos FROM pr_$n p
                 JOIN top_$n t ON p.s = t.s1 AND p.s2 = t.s2),
        sel_$n AS (SELECT word, pos FROM (
            SELECT word, pos,
                   row_number() OVER (PARTITION BY word, island ORDER BY pos) AS rn2
            FROM (SELECT word, pos,
                         pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS island
                  FROM m_$n))
          WHERE rn2 % 2 = 1),
        sym_${n + 1} AS MATERIALIZED (
          SELECT word, freq,
                 row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos, s
          FROM (
            SELECT y.word, y.freq, y.pos,
                   CASE WHEN sel.pos IS NOT NULL
                        THEN (SELECT s1 || s2 FROM top_$n) ELSE y.s END AS s
            FROM sym_$n y
            LEFT JOIN sel_$n sel ON sel.word = y.word AND sel.pos = y.pos
            LEFT JOIN sel_$n dn ON dn.word = y.word AND dn.pos = y.pos - 1
            WHERE dn.pos IS NULL)),
        stats_$n AS (SELECT CAST($n AS INT) AS round,
            (SELECT s1 FROM top_$n) AS left_sym,
            (SELECT s2 FROM top_$n) AS right_sym,
            (SELECT c FROM top_$n) AS pair_count,
            CAST((SELECT sum(freq) FROM sym_${n + 1}) AS BIGINT) AS n_symbols_after)"""
    s"""
        WITH w0 AS (SELECT unnest(${sqlTokens("lower(text)")}) AS word FROM documents),
        v AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
                           FROM w0 GROUP BY 1),
        sym_1 AS MATERIALIZED (
          SELECT word, freq,
                 unnest(generate_series(1, len(word))) - 1 AS pos,
                 unnest(list_transform(generate_series(1, len(word)),
                   j -> substring(word, j, 1))) AS s
          FROM v),
        ${(1 to rounds).map(lvl).mkString(",")}
        ${(1 to rounds).map(i => s"SELECT * FROM stats_$i").mkString(" UNION ALL ")}
        ORDER BY round"""
  }

  /** DuckDB replica of p141 (and the p145 maintained form — the
    * merged masses equal the one-shot masses, so one oracle serves
    * both): per-lang token masses, exact integer sqrt via the
    * neighbor-corrected double sqrt, then pure integer mixture math.
    */
  private def mixtureEpochsOracle: String =
    s"""
        WITH m AS (SELECT lang AS stratum,
                          CAST(sum(len(${sqlTokens("lower(text)")})) AS BIGINT) AS n
                   FROM documents GROUP BY 1),
        st AS (SELECT stratum, n,
                 CASE WHEN n <= 0 THEN 0
                      WHEN (s0 + 1) * (s0 + 1) <= n THEN s0 + 1
                      WHEN s0 * s0 > n THEN s0 - 1 ELSE s0 END AS s
               FROM (SELECT stratum, n,
                       CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM m)),
        g AS (SELECT CAST(coalesce(sum(s), 0) AS BIGINT) AS s_total,
                     CAST(coalesce(sum(n), 0) AS BIGINT) AS b_total FROM st),
        w AS (SELECT stratum, n, s,
                CASE WHEN s_total > 0
                     THEN (2000000 * s + s_total) // (2 * s_total) ELSE 0 END AS wm,
                b_total
              FROM st CROSS JOIN g)
        SELECT stratum, n AS n_tokens, s AS sqrt_tokens, wm AS weight_micro,
               CASE WHEN n > 0
                    THEN CAST((2 * CAST(b_total AS HUGEINT) * wm + n) // (2 * n) AS BIGINT)
                    ELSE 0 END AS epochs_micro
        FROM w ORDER BY stratum"""

  /** DuckDB replica of p153 — blocking, per-node top-4, mutuality.
    * p155's maintained form merges waves into the same store (top-k is
    * mergeable), so ONE oracle serves both: maintained == one-shot is
    * exactly the invariant being gated.
    */
  private def mutualKnnOracle: String =
    s"""
        WITH $lshPairCtes,
        pairs AS (SELECT id_a, id_b, cos FROM pr WHERE cos >= 0.4),
        sym AS (SELECT id_a AS src, id_b AS dst, cos FROM pairs
                UNION ALL SELECT id_b, id_a, cos FROM pairs),
        tk AS (SELECT src, dst, cos FROM (
            SELECT src, dst, cos,
                   row_number() OVER (PARTITION BY src
                     ORDER BY cos DESC, dst) AS rn
            FROM sym) WHERE rn <= 4)
        SELECT t.src AS id_a, t.dst AS id_b, t.cos
        FROM tk t JOIN tk r ON r.src = t.dst AND r.dst = t.src
        WHERE t.src < t.dst ORDER BY 1, 2"""

  /** Shared by p167 (one-shot) and p168 (maintained clusters): the
    * representative-election manifest over the LSH near-dup clusters.
    * One oracle for both IS the maintained == one-shot invariant.
    */
  private def representativesOracle: String =
    s"""
        WITH RECURSIVE $lshPairCtes,
        pairs AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.4),
        edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
        mem AS (SELECT c.component, c.id, d.n_chars
                FROM comp c JOIN documents d ON d.doc_id = c.id),
        el AS (SELECT component, id, n_chars,
                      row_number() OVER (PARTITION BY component
                        ORDER BY n_chars DESC, id) AS rn
               FROM mem)
        SELECT CAST(m.component AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(*) - 1 AS BIGINT) AS n_dropped,
               CAST(any_value(e.id) AS BIGINT) AS kept_doc,
               CAST(any_value(e.n_chars) AS BIGINT) AS kept_n_chars
        FROM mem m JOIN el e ON e.component = m.component AND e.rn = 1
        GROUP BY 1 ORDER BY 1"""

  private def lshCollapseOracle: String =
    s"""
        WITH RECURSIVE $lshPairCtes,
        pairs AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.4),
        edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        SELECT CAST(component AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(*) - 1 AS BIGINT) AS n_dropped
        FROM comp GROUP BY 1 ORDER BY 1"""

  /** DuckDB replica of p86: the p32 LSH pair set + CC, then
    * inverse-cluster-size integer-micro weights over the full embedding
    * universe (absent ids are singletons).
    */
  private def lshWeightsOracle: String =
    s"""
        WITH RECURSIVE $lshPairCtes,
        pairs AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.4),
        edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
        cl AS (SELECT a.vec_id, coalesce(c.component, a.vec_id) AS cluster
               FROM embeddings a LEFT JOIN comp c ON c.id = a.vec_id),
        sz AS (SELECT cluster, count(*) AS n FROM cl GROUP BY 1)
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
               CAST(1000000 // n AS BIGINT) AS weight_micro
        FROM cl JOIN sz USING (cluster) ORDER BY vec_id"""

  /** DuckDB replica of [[Similarity.ivfTopK]] (p16): centroids re-derived
    * in SQL exactly as p15 does (4-dp rounded per-label means), probe set
    * = 4 nearest centroids to the query by 6-dp rounded cosine (index
    * ascending tie-break), bucket assignment = rounded-cosine argmax with
    * ties toward the larger bucket, then exact re-rank within probed
    * buckets.
    */
  private def ivfAnnOracle: String =
    """
        WITH cent AS (
          SELECT label AS bucket, list(c ORDER BY pos) AS cvec FROM (
            SELECT label, u.i - 1 AS pos, round(avg(u.v), 4) AS c
            FROM (SELECT label,
                         unnest(list_transform(generate_series(1, len(embedding)),
                                i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                  FROM embeddings)
            GROUP BY label, u.i)
          GROUP BY label),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 3),
        probe AS (
          SELECT bucket FROM (
            SELECT c.bucket,
                   row_number() OVER (
                     ORDER BY round(list_cosine_similarity(c.cvec, (SELECT qe FROM q)), 6) DESC,
                              c.bucket) AS rn
            FROM cent c) WHERE rn <= 4),
        assign AS (
          SELECT vec_id, e, bucket FROM (
            SELECT v.vec_id, v.e, c.bucket,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY round(list_cosine_similarity(v.e, c.cvec), 6) DESC,
                              c.bucket DESC) AS rn
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) v
            CROSS JOIN cent c) WHERE rn = 1)
        SELECT a.vec_id AS id,
               round(list_cosine_similarity(a.e, (SELECT qe FROM q)), 6) AS cos
        FROM assign a JOIN probe p ON a.bucket = p.bucket
        ORDER BY cos DESC, id LIMIT 10"""

  /** DuckDB replica of [[graft.functions.Pq]] (p46): codebooks re-derived
    * with the p30 integer-exact mean, per-subspace argmin on the same
    * `ss − 2·sc + cc` 6-dp-rounded decomposition (left-to-right adds ⇒
    * bit-identical doubles), ADC as the same m-ascending lookup chain.
    */
  private def pqAdcOracle: String = {
    val m = 8; val sub = EmbDim / m
    val codeCols = (0 until m).map(i => s"max(CASE WHEN m = $i THEN code END) AS c$i")
      .mkString(",\n                 ")
    val adcChain = (0 until m).map(i =>
      s"(SELECT d FROM dt WHERE dt.m = $i AND dt.code = codes.c$i)")
      .mkString("\n             + ")
    val codeList = (0 until m).map(i => s"c$i").mkString("[", ", ", "]")
    s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        cent AS (
          SELECT label, (u.i - 1) // $sub AS m, (u.i - 1) % $sub AS j,
                 round(CAST(sum(CAST(round(u.x * 1000000) AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1000000.0), 4) AS c
          FROM (SELECT label, unnest(list_transform(generate_series(1, $EmbDim),
                       i -> {'i': i, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
                FROM embeddings)
          GROUP BY label, m, j),
        cb AS (SELECT label AS code, m, list(c ORDER BY j) AS cvec
               FROM cent GROUP BY label, m),
        sub AS (SELECT vec_id, m, list(x ORDER BY j) AS sv FROM (
                  SELECT vec_id, (u.i - 1) // $sub AS m, (u.i - 1) % $sub AS j, u.x AS x
                  FROM (SELECT vec_id, unnest(list_transform(generate_series(1, $EmbDim),
                               i -> {'i': i, 'x': e[i]})) AS u FROM v))
                GROUP BY vec_id, m),
        enc AS (SELECT vec_id, m, code FROM (
                  SELECT s.vec_id, s.m, b.code,
                         row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY round(list_inner_product(s.sv, s.sv)
                                     - 2 * list_inner_product(s.sv, b.cvec)
                                     + list_inner_product(b.cvec, b.cvec), 6) + 0.0 ASC,
                                    b.code) AS rn
                  FROM sub s JOIN cb b ON s.m = b.m) WHERE rn = 1),
        q AS (SELECT m, sv AS qv FROM sub WHERE vec_id = 3),
        dt AS (SELECT b.m, b.code,
                      round(list_inner_product(q.qv, q.qv)
                            - 2 * list_inner_product(q.qv, b.cvec)
                            + list_inner_product(b.cvec, b.cvec), 6) + 0.0 AS d
               FROM cb b JOIN q ON b.m = q.m),
        codes AS (SELECT vec_id,
                 $codeCols
                  FROM enc GROUP BY vec_id)
        SELECT vec_id AS id,
               array_to_string($codeList, ',') AS codes,
               round($adcChain, 6) AS adc
        FROM codes ORDER BY adc, id LIMIT 10"""
  }

  /** Per-language marker-hit score columns (`s_<lang>`) for the langid
    * oracles — shared by p03 and the p63 routing CTE.
    */
  private def langHitsSql: String =
    TextOps.langMarkers.map { case (lang, markers) =>
      // word markers count token hits; single-char CJK markers count
      // substring occurrences (mirrors TextOps.markerHits)
      val (cjk, words) = markers.partition(m => m.length == 1 && m.head > 127)
      val inList = words.map(m => s"'$m'").mkString(", ")
      val wordScore =
        if (words.nonEmpty) s"len(list_filter(${sqlTokens("lower(text)")}, x -> x IN ($inList)))"
        else "0"
      val cjkScore = cjk.map(m =>
        s" + (length(lower(text)) - length(replace(lower(text), '$m', '')))").mkString
      s"CAST($wordScore$cjkScore AS INT) AS s_$lang"
    }.mkString(",\n                 ")

  /** Declaration-order argmax over the [[langHitsSql]] score columns. */
  private def langArgmaxSql: String = {
    val langs = TextOps.langMarkers.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
    s"CASE $cases END"
  }

  /** DuckDB replica of [[TextOps.langId]]: per-language marker hits,
    * greatest-score argmax with declaration-order tie-break.
    */
  private def langIdOracle: String =
    s"""
        WITH t AS (
          SELECT doc_id,
                 $langHitsSql
          FROM documents)
        SELECT doc_id, $langArgmaxSql AS lang_pred
        FROM t ORDER BY doc_id"""

  /** DuckDB replica of [[Corpus.bm25]]: float constants are interpolated
    * from the SAME Scala doubles the Spark side uses (Java's shortest
    * round-trip `toString` parses back to the identical bit pattern in
    * any IEEE engine), and per-term scores add left-to-right in query
    * order — the whole expression tree matches term by term.
    */
  private def bm25Oracle(terms: Seq[String], k1: Double, b: Double, topK: Int): String = {
    val dfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN list_contains(ts, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
      .mkString(",\n                 ")
    val termScores = terms.map { t =>
      val tf = s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE)"
      s"""(CASE WHEN $tf > 0
             THEN ln(1.0 + ((n - df_$t) + 0.5) / (df_$t + 0.5))
                  * (($tf * ${k1 + 1}) / ($tf + $k1 * ((1.0 - $b) + $b * (CAST(len AS DOUBLE) / avglen))))
             ELSE 0.0 END)"""
    }.mkString("\n             + ")
    s"""
        WITH base AS (
          SELECT doc_id, ${sqlTokens("lower(text)")} AS ts,
                 len(${sqlTokens("lower(text)")}) AS len
          FROM documents),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(len) AS DOUBLE) / count(*) AS avglen,
                 $dfCols
          FROM base)
        SELECT doc_id,
               round($termScores, 6) AS bm25
        FROM base CROSS JOIN stats
        WHERE round($termScores, 6) > 0
        ORDER BY bm25 DESC, doc_id LIMIT $topK"""
  }

  /** DuckDB replica of [[Corpus.bm25Chunks]] (p96): same chunk geometry
    * (scalar generate_series + struct list_transform — DuckDB 1.0 has no
    * lateral generator), same chunk-level corpus constants, same
    * left-to-right term sum as [[bm25Oracle]].
    */
  private def bm25ChunksOracle(terms: Seq[String], chunkLen: Int, stride: Int,
                               k1: Double, b: Double, topK: Int,
                               withLen: Boolean = false): String = {
    val dfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
      .mkString(",\n                 ")
    val termScores = terms.map { t =>
      val tf = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
      s"""(CASE WHEN $tf > 0
             THEN ln(1.0 + ((n - df_$t) + 0.5) / (df_$t + 0.5))
                  * (($tf * ${k1 + 1}) / ($tf + $k1 * ((1.0 - $b) + $b * (CAST(len AS DOUBLE) / avglen))))
             ELSE 0.0 END)"""
    }.mkString("\n             + ")
    s"""
        WITH t0 AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents
                    WHERE regexp_matches(text, '\\S')),
        t AS (SELECT doc_id, ts FROM t0 WHERE len(ts) > 0),
        st AS (SELECT doc_id, ts,
                      CASE WHEN len(ts) <= $chunkLen THEN 1
                           ELSE CAST(ceil(CAST(len(ts) - $chunkLen AS DOUBLE) / $stride) AS INT) + 1
                      END AS n_chunks FROM t),
        ch AS (SELECT doc_id,
                      unnest(list_transform(generate_series(0, n_chunks - 1),
                             i -> {'cid': i, 'toks': ts[i*$stride+1 : i*$stride+$chunkLen]})) AS u
               FROM st),
        base AS (SELECT doc_id, CAST(u.cid AS INT) AS chunk_id, u.toks AS toks,
                        len(u.toks) AS len FROM ch),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(len) AS DOUBLE) / count(*) AS avglen,
                         $dfCols
                  FROM base)
        SELECT doc_id, chunk_id,${if (withLen) " CAST(len AS INT) AS len," else ""} round($termScores, 6) AS bm25
        FROM base CROSS JOIN stats
        WHERE round($termScores, 6) > 0
        ORDER BY bm25 DESC, doc_id, chunk_id LIMIT $topK"""
  }

  val all: Seq[Q] = Seq(

    Q("p26_tfidf_terms",
      (s, d) => Corpus.tfIdfTopTerms(table(s, d, "documents"),
          col("doc_id"), col("text"), k = 3)
        .orderBy("doc_id", "rank"),
      Some(s"""
        WITH t AS (SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, term,
                 round(tf * (ln(CAST(n + 1 AS DOUBLE) / (df + 1)) + 1), 6) AS tfidf
          FROM tf JOIN dfx USING (term) CROSS JOIN n),
        r AS (SELECT doc_id, term, tfidf,
                     row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
              FROM scored)
        SELECT doc_id, CAST(rnk AS INT) AS "rank", term, tfidf
        FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
      "relevance — per-doc top-3 terms by smoothed TF-IDF (broadcast vocab-sized df " +
        "table; corpus shuffles stay doc-keyed)"),

    Q("p27_bm25_rank",
      (s, d) => Corpus.bm25(table(s, d, "documents"), col("doc_id"), col("text"),
        terms = Seq("spark", "vector", "stream"), k1 = 1.2, b = 0.75, topK = 20),
      Some(bm25Oracle(Seq("spark", "vector", "stream"), k1 = 1.2, b = 0.75, topK = 20)),
      "relevance — BM25 query ranking (one scalar-agg pass for corpus constants, " +
        "map-side scoring, TakeOrdered top-k; corpus never shuffles)"),

    Q("p28_repetition",
      (s, d) => Corpus.repetitionSignals(table(s, d, "documents"),
          col("doc_id"), col("text"), topTokenFracMax = 0.15)
        .orderBy("doc_id"),
      Some(s"""
        WITH toks AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        tok_stats AS (SELECT doc_id, CAST(sum(tf) AS INT) AS n_tokens,
                             count(*) AS n_distinct, max(tf) AS top_tf
                      FROM tf GROUP BY 1),
        bgr AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(ts) - 1),
                              i -> array_to_string(ts[i:i+1], ' '))) AS bg
                FROM toks WHERE len(ts) >= 2),
        bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
        bgt AS (SELECT doc_id, max(c) AS top_bigram_tf FROM bgc GROUP BY 1)
        SELECT s.doc_id, s.n_tokens,
               round(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 4) AS distinct_frac,
               round(CAST(top_tf AS DOUBLE) / greatest(n_tokens, 1), 4) AS top_token_frac,
               round(CAST(COALESCE(top_bigram_tf, 0) AS DOUBLE) / greatest(n_tokens - 1, 1), 4)
                 AS top_bigram_frac,
               CASE WHEN round(CAST(top_tf AS DOUBLE) / greatest(n_tokens, 1), 4) >= 0.15
                    THEN 1 ELSE 0 END AS repetitive
        FROM tok_stats s LEFT JOIN bgt USING (doc_id)
        ORDER BY s.doc_id"""),
      "quality — Gopher-style repetition signals (distinct-token ratio, top-token / " +
        "top-bigram fractions) + repetitive flag; two gram-keyed partial aggregations"),

    Q("p29_oov_coverage",
      (s, d) => {
        val docs = table(s, d, "documents")
        // bounded top-N vocabulary — the broadcast-constant pattern (same
        // as centroids in p16/p20); at 100 TB the vocab aggregate is one
        // partial-agg + TakeOrdered pass, never a full sort
        val vocab = Corpus.topVocabulary(docs, col("text"), topN = 30)
        Corpus.oovStats(docs, col("doc_id"), col("text"), vocab).orderBy("doc_id")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        t AS (SELECT doc_id, unnest(ts) AS term FROM toks),
        vocab AS (SELECT term FROM (SELECT term, count(*) AS c FROM t GROUP BY 1)
                  ORDER BY c DESC, term LIMIT 30),
        oovc AS (SELECT t.doc_id, sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS oov
                 FROM t LEFT JOIN vocab v ON t.term = v.term GROUP BY 1)
        SELECT k.doc_id, CAST(len(k.ts) AS INT) AS n_tokens,
               CAST(COALESCE(o.oov, 0) AS INT) AS n_oov,
               round(CAST(COALESCE(o.oov, 0) AS DOUBLE) / greatest(len(k.ts), 1), 4) AS oov_ratio
        FROM toks k LEFT JOIN oovc o ON k.doc_id = o.doc_id
        ORDER BY k.doc_id"""),
      "quality — vocabulary build (top-30 corpus terms, deterministic tie-break) + " +
        "per-doc out-of-vocabulary coverage (map-side against the broadcast vocab)"),

    Q("p30_kmeans",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        // deterministic init: the 8 lowest-id vectors, cluster = vec_id
        val init = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int"), col("embedding").cast("array<double>"))
          .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
        Clustering.sphericalKMeans(emb, col("vec_id"), col("embedding"), init, iters = 2)
          .orderBy("cluster", "pos")
      },
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INT) AS cluster, e AS cvec FROM v WHERE vec_id < 8),
        a1 AS (SELECT vec_id, e, cluster FROM (
                 SELECT v.vec_id, v.e, c.cluster,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY round(list_cosine_similarity(v.e, c.cvec), 6) DESC,
                                   c.cluster) AS rn
                 FROM v CROSS JOIN c0 c) WHERE rn = 1),
        c1 AS (SELECT cluster, u.i - 1 AS pos,
                      round(CAST(sum(CAST(round(u.v * 1000000) AS BIGINT)) AS DOUBLE)
                            / (count(*) * 1000000.0), 4) + 0.0 AS c
               FROM (SELECT cluster, unnest(list_transform(generate_series(1, len(e)),
                            i -> {'i': i, 'v': e[i]})) AS u FROM a1)
               GROUP BY cluster, u.i),
        c1v AS (SELECT cluster, list(c ORDER BY pos) AS cvec FROM c1 GROUP BY cluster),
        a2 AS (SELECT vec_id, e, cluster FROM (
                 SELECT v.vec_id, v.e, c.cluster,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY round(list_cosine_similarity(v.e, c.cvec), 6) DESC,
                                   c.cluster) AS rn
                 FROM v CROSS JOIN c1v c) WHERE rn = 1),
        c2 AS (SELECT cluster, u.i - 1 AS pos,
                      round(CAST(sum(CAST(round(u.v * 1000000) AS BIGINT)) AS DOUBLE)
                            / (count(*) * 1000000.0), 4) + 0.0 AS c
               FROM (SELECT cluster, unnest(list_transform(generate_series(1, len(e)),
                            i -> {'i': i, 'v': e[i]})) AS u FROM a2)
               GROUP BY cluster, u.i)
        SELECT cluster, CAST(pos AS INT) AS pos, c FROM c2 ORDER BY cluster, pos"""),
      "clustering — spherical k-means, 2 Lloyd iterations from deterministic init " +
        "(map-side rounded-cosine argmax per pass + one partial-aggregated mean; " +
        "K x dim centroids are the only driver state)"),

    Q("p31_quantize",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        // dim×(min,max) — broadcast-constant scale, like centroids
        val bounds = Clustering.dimMinMax(emb, col("embedding"))
        Clustering.scalarQuantize(emb, col("vec_id"), col("embedding"), bounds)
          .orderBy("vec_id")
      },
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        x AS (SELECT vec_id, u.i - 1 AS pos, u.v AS val
              FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(e)),
                           i -> {'i': i, 'v': e[i]})) AS u FROM v)),
        d AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM x GROUP BY 1),
        q AS (SELECT vec_id, x.pos, val, mn, mx,
                     CASE WHEN mx > mn
                          THEN CAST(floor(round((val - mn) * (255.0 / (mx - mn)), 6) + 0.5) AS INT)
                          ELSE 0 END AS code
              FROM x JOIN d USING (pos)),
        e AS (SELECT vec_id, code, pos,
                     round(abs((CASE WHEN mx > mn THEN code * ((mx - mn) / 255.0) + mn
                                     ELSE mn END) - val), 6) AS err
              FROM q)
        SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
               CAST(sum(code * (pos + 1)) AS BIGINT) AS code_checksum,
               max(err) AS max_err
        FROM e GROUP BY 1 ORDER BY vec_id"""),
      "compression — int8 scalar quantization of embeddings (per-dim bounds broadcast " +
        "as literals; encoding + fidelity stats fully map-side, corpus never shuffled)"),

    Q("p32_lsh_dedup_clusters",
      (s, d) => {
        // the 100 TB dedup path END TO END: LSH-blocked pair generation
        // (p22 — no all-pairs join anywhere) feeding the same CC collapse
        // as p24. p24 keeps the exact pair set as its ground-truth twin;
        // this is the composition a production pipeline runs.
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        val pairs = TpchGraph.lshPairs(s, d)
          .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
        graft.plans.DfConnectedComponents.run(pairs)
          .groupBy(col("component").cast("long").as("canonical_id"))
          .agg(count(lit(1)).cast("long").as("n_members"),
            (count(lit(1)) - 1).cast("long").as("n_dropped"))
          .orderBy("canonical_id")
      },
      Some(lshCollapseOracle),
      "dedup — the corpus-scale collapse pipeline: sign-LSH blocked near-dup pairs " +
        "(never all-pairs) -> DataFrame CC -> one canonical keeper per cluster"),


    Q("p167_dedup_representatives",
      (s, d) => {
        // the dedup pipeline's final DELIVERABLE: near-dup clusters
        // (the p22/p32 shared LSH pair set -> CC) each elect ONE
        // representative by deterministic quality criteria — longest
        // document, doc_id tie-break — and export the keep decision
        // with the cluster accounting a curation audit signs off on.
        // vec_id is doc-aligned in this corpus (the embedding of doc i
        // is vec i); quality joins from the documents table
        val pairs = TpchGraph.lshPairs(s, d)
          .select(col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst"))
        val members = graft.plans.DfConnectedComponents.run(pairs)
          .select(col("id").cast("long").as("doc_id"),
            col("component").cast("long").as("canonical_id"))
          // r16: hash-build the CC-membership side, never the corpus-scale
          // documents side — SHJ build side is the hinted side, AQE
          // respects it, and the documents side streams without the r15
          // merge pin's sort (guide §3.1). Per-partition memory contract
          // (ADVICE r16): the build holds |near-dup-cluster members| /
          // shuffle-width rows of two longs per task; the width is the
          // session's corpus-sized spark.sql.shuffle.partitions, so the
          // per-task build shrinks as the deployment scales out, and on
          // a pathologically dirty corpus (membership ≈ corpus) the
          // operator upstream is the one that must cap cluster mass —
          // the same contract every SHJ fetch in the dedup family
          // states. A merge pin remains the fallback if a deployment
          // cannot bound membership/width.
          .hint("shuffle_hash")
          .join(table(s, d, "documents").select(col("doc_id"), col("n_chars")),
            "doc_id")
        val elected = graft.plans.TopKPerGroup.topK(members,
            Seq(col("canonical_id")),
            struct(col("n_chars"), -col("doc_id")), 1)
          .select(col("canonical_id"), col("doc_id").as("kept_doc"),
            col("n_chars").as("kept_n_chars"))
        members.groupBy("canonical_id")
          .agg(count(lit(1)).as("n_members"),
            (count(lit(1)) - 1).cast("long").as("n_dropped"))
          .join(elected, "canonical_id")
          .orderBy("canonical_id")
      },
      Some(representativesOracle),
      "dedup — REPRESENTATIVE ELECTION, the pipeline's final " +
        "deliverable: each near-dup cluster (the p22/p32 shared " +
        "LSH-blocked pair set -> DataFrame CC) elects one keeper by " +
        "deterministic quality criteria (longest doc, id tie-break) " +
        "via the bounded-heap top-1 operator — one row per cluster " +
        "crosses the shuffle, never the membership. Output is the " +
        "keep/drop manifest a curation audit signs off on: canonical " +
        "id, member count, drops, the kept doc and its length"),

    Q("p168_incremental_representatives",
      (s, d) => {
        // p167's election over the MAINTAINED cluster store: the
        // standing two-thirds labeling (p88's per-session fixture)
        // absorbs the last delta wave via contracted-graph CC, and the
        // election runs on the merged components — sharing p167's
        // oracle verbatim gates maintained == one-shot for the full
        // detect -> cluster -> elect pipeline (p58 is the detection
        // member, p88 the clustering member, this the deliverable)
        val pairs = TpchGraph.lshPairs(s, d)
          .select(col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst"))
        val delta = pairs.filter(col("src") % 3 === 2 || col("dst") % 3 === 2)
        val comp0 = p88Standing(s, d, pairs)
        val members = graft.plans.DfConnectedComponents.merge(comp0, delta)
          .select(col("id").cast("long").as("doc_id"),
            col("component").cast("long").as("canonical_id"))
          // r16: hash-build the CC-membership side, never the corpus-scale
          // documents side — SHJ build side is the hinted side, AQE
          // respects it, and the documents side streams without the r15
          // merge pin's sort (guide §3.1). Per-partition memory contract
          // (ADVICE r16): the build holds |near-dup-cluster members| /
          // shuffle-width rows of two longs per task; the width is the
          // session's corpus-sized spark.sql.shuffle.partitions, so the
          // per-task build shrinks as the deployment scales out, and on
          // a pathologically dirty corpus (membership ≈ corpus) the
          // operator upstream is the one that must cap cluster mass —
          // the same contract every SHJ fetch in the dedup family
          // states. A merge pin remains the fallback if a deployment
          // cannot bound membership/width.
          .hint("shuffle_hash")
          .join(table(s, d, "documents").select(col("doc_id"), col("n_chars")),
            "doc_id")
        val elected = graft.plans.TopKPerGroup.topK(members,
            Seq(col("canonical_id")),
            struct(col("n_chars"), -col("doc_id")), 1)
          .select(col("canonical_id"), col("doc_id").as("kept_doc"),
            col("n_chars").as("kept_n_chars"))
        members.groupBy("canonical_id")
          .agg(count(lit(1)).as("n_members"),
            (count(lit(1)) - 1).cast("long").as("n_dropped"))
          .join(elected, "canonical_id")
          .orderBy("canonical_id")
      },
      Some(representativesOracle),
      "dedup — the election over MAINTAINED clusters: p88's standing " +
        "labeling absorbs the delta wave (contracted-graph CC, " +
        "O(delta + touched components)) and the keeper election runs " +
        "on the merged store, hash-equal to p167's one-shot manifest " +
        "(shared oracle = the maintained == one-shot invariant). The " +
        "incremental family now covers the whole dedup pipeline: " +
        "detection p58, clustering p88, deliverable THIS"),

    Q("p01_token_count",
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.subwordCountApprox(col("text")).as("n_subwords"))
        .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id, CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens,
               CAST(length(regexp_replace(text, '[A-Za-z0-9]+', chr(1), 'g'))
                    - length(replace(regexp_replace(text, '[A-Za-z0-9]+', chr(1), 'g'), chr(1), ''))
                    + length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                 AS INT) AS n_subwords
        FROM documents ORDER BY doc_id"""),
      "text analysis — whitespace token counting + BPE-ish subword proxy"),

    Q("p19_winnowing_fingerprints",
      // whole corpus — the native O(n) expression makes per-doc cost
      // negligible (the array-expression ancestor needed a 50-doc guard)
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
        .orderBy("doc_id", "fp"),
      // polynomial gram hash, B=31, P=2^31-1: matches expressions.Winnowing
      // (constants are B^4..B^0 for k=5; one mod suffices since the
      // weighted sum of 5 printable-ASCII codes stays below 2^31)
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text) - 4),
                   i -> (ascii(substring(text, i, 1)) * 923521
                       + ascii(substring(text, i + 1, 1)) * 29791
                       + ascii(substring(text, i + 2, 1)) * 961
                       + ascii(substring(text, i + 3, 1)) * 31
                       + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
          FROM documents
          WHERE length(text) >= 5)  -- docs below k have NO fingerprints (empty array in Spark)
        SELECT doc_id, unnest(list_sort(list_distinct(
                 list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                   j -> list_min(hs[j:j+7]))))) AS fp
        FROM h ORDER BY doc_id, fp"""),
      "text analysis — winnowing (rolling-hash) local fingerprints for substring-level dedup"),

    Q("p25_decontamination",
      (s, d) => {
        // train/eval contamination check — the decontamination pass every
        // training pipeline needs: does a training document share enough
        // local (substring-level) fingerprints with the held-out set to
        // be a leak? Eval set = doc_id % 97 == 0 (deterministic stand-in
        // for a benchmark corpus). The eval fingerprint set is tiny
        // relative to the corpus → broadcast; the check is then a
        // map-side semi-join + partial-aggregated count per train doc.
        // At 100 TB: same shape — eval benchmarks are always broadcast-
        // sized, the train side never shuffles.
        val fps = table(s, d, "documents")
          .select(col("doc_id"),
            explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
        val evalFps = fps.filter(col("doc_id") % 97 === 0).select("fp").distinct()
        fps.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(evalFps), "fp")
          .groupBy("doc_id")
          .agg(countDistinct(col("fp")).cast("long").as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("doc_id")
      },
      Some(decontaminationOracle),
      "text analysis — train/eval DECONTAMINATION: winnowing-fingerprint overlap with a " +
        "broadcast eval set (substring-level leak detection, map-side at any corpus size)"),

    Q("p18_quality_quantiles",
      (s, d) => table(s, d, "documents")
        .groupBy("lang")
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
          count(lit(1)).as("n"))
        .orderBy("lang"),
      Some("""
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
               round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1 ORDER BY 1"""),
      "text analysis — exact interpolated quantiles per language (quality thresholds)"),

    Q("p17_cosine_near_dups",
      // full corpus: the exact form is the ground-truth twin of the
      // oracled LSH path (p22); at test SFs the all-pairs broadcast is
      // affordable, at 100 TB p22 is the production path
      (s, d) => Dedup.embeddingNearDups(
        table(s, d, "embeddings"),
        col("vec_id"), col("embedding"), minCos = 0.4)
        .orderBy("id_a", "id_b"),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
        ORDER BY id_a, id_b"""),
      "dedup — embedding-cosine near-duplicate pairs (exact ground truth; LSH-bucketed twin p22 at scale)"),

    Q("p02_quality_signals",
      (s, d) => {
        val q = TextOps.qualitySignals(col("text"), TextOps.defaultStopwords)
        table(s, d, "documents")
          .select(col("doc_id"), q.as("q"))
          .select(col("doc_id"), col("q.n_chars"), col("q.n_tokens"),
            col("q.mean_token_len"), col("q.punct_ratio"), col("q.upper_ratio"),
            col("q.stopword_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) AS INT) AS n_chars,
                 CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INT) AS n_punct,
                 CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INT) AS n_upper,
                 CAST(len(list_filter(${sqlTokens("lower(text)")},
                      x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS INT) AS n_stop
          FROM documents)
        SELECT doc_id, n_chars, n_tokens,
               round(CAST(n_chars AS DOUBLE)/greatest(n_tokens,1),4) AS mean_token_len,
               round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1),4) AS punct_ratio,
               round(CAST(n_upper AS DOUBLE)/greatest(n_chars,1),4) AS upper_ratio,
               round(CAST(n_stop AS DOUBLE)/greatest(n_tokens,1),4) AS stopword_ratio
        FROM t ORDER BY doc_id"""),
      "text analysis — quality scoring (length/punct/stopword/case ratios)"),

    Q("p03_langid",
      (s, d) => table(s, d, "documents")
        // stage the lowered text and the single shared tokenization as
        // their own projections (see TextOps.markerTokens) — same scores
        // as TextOps.langId, one split instead of four per row
        .select(col("doc_id"), lower(col("text")).as("lt"))
        .select(col("doc_id"), col("lt"), TextOps.markerTokens(col("lt")).as("mtok"))
        .select(col("doc_id"),
          TextOps.langIdFromMarkerTokens(col("mtok"), col("lt")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(langIdOracle),
      "text analysis — marker-token language ID with deterministic argmax " +
        "(shared single-pass tokenization)"),

    Q("p04_fingerprint",
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents ORDER BY doc_id"""),
      "text analysis — normalized document fingerprint (md5 of casefolded text)"),

    Q("p05_exact_dedup",
      (s, d) => Dedup.exactClusters(table(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy("text_hash"),
      Some("""
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_dups
        FROM documents GROUP BY 1 ORDER BY 1"""),
      "dedup — exact clusters by content hash (hash groupBy, map-side combine)"),

    Q("p06_jaccard_pairs",
      (s, d) => Dedup.jaccardPairs(
        table(s, d, "documents").filter(col("doc_id") < 100),
        col("doc_id"), col("text"), n = 3, minJaccard = 0.05)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, ${sqlTokens("lower(text)")} AS ts
          FROM documents WHERE doc_id < 100),
        grams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(ts)-2, 1)),
                          i -> array_to_string(ts[i:i+2], ' '))) AS gram
            FROM toks)
          WHERE len(gram) > 0),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= 0.05
        ORDER BY id_a, id_b"""),
      "dedup — n-gram Jaccard via inverted-index self-join (no doc×doc cross join)"),

    Q("p07_minhash_pairs",
      (s, d) => {
        // plant exact copies (doc_id + 10000) so LSH always has true positives
        val docs = table(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text"))
        val planted = docs.select((col("doc_id") + 10000).as("doc_id"), col("text"))
        Dedup.minHashNearDups(docs.unionByName(planted), col("doc_id"), col("text"),
            n = 3, numHashes = 64, bands = 32, minJaccard = 0.9)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 100
          UNION ALL
          SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100),
        toks AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM corpus),
        grams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(ts)-2, 1)),
                          i -> array_to_string(ts[i:i+2], ' '))) AS gram
            FROM toks)
          WHERE len(gram) > 0),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= 0.9
        ORDER BY id_a, id_b"""),
      "dedup — MinHash+LSH candidates verified by exact Jaccard (oracle = exact answer)"),

    Q("p08_simhash",
      (s, d) => Dedup.simHash(table(s, d, "documents").filter(col("doc_id") < 50),
        col("doc_id"), col("text")).orderBy("id"),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS tok
          FROM documents WHERE doc_id < 50),
        h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT doc_id, b.bit,
                 sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h CROSS JOIN generate_series(0, 59) b(bit)
          GROUP BY 1, 2)
        SELECT doc_id AS id,
               CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id ORDER BY id"""),
      "dedup — 60-bit SimHash signatures (per-bit weighted majority, md5-derived token hash)"),

    Q("p09_cosine_topk",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        Similarity.cosineTopK(emb, col("vec_id"), col("embedding"), query, k = 10)
      },
      Some("""
        SELECT vec_id AS id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        FROM embeddings ORDER BY cos DESC, id LIMIT 10"""),
      "similarity — brute-force cosine top-k (broadcast query, TakeOrdered)"),

    Q("p10_nearest_neighbor",
      (s, d) => Similarity.nearestNeighbor(
        table(s, d, "embeddings").filter(col("vec_id") < 40),
        col("vec_id"), col("embedding")).orderBy("id_a"),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings WHERE vec_id < 40),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.e, b.e), 6) AS cos
          FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        ranked AS (
          SELECT id_a, id_b, cos,
                 row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn
          FROM pairs)
        SELECT id_a, id_b AS nn, cos FROM ranked WHERE rn = 1 ORDER BY id_a"""),
      "similarity — all-pairs top-1 neighbor (broadcast nested loop + rank)"),

    Q("p11_lsh_ann",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        Similarity.lshTopK(emb, col("vec_id"), col("embedding"), query,
          k = 10, dim = query.length)
      },
      Some(lshAnnOracle), // seeded planes inlined as literals — exact SQL twin
      "similarity — sign-LSH bucketed ANN with exact re-rank"),

    Q("p22_lsh_near_dups",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        // this synthetic corpus has no true near-dups (max pairwise cos
        // ≈ 0.6), so block at the similar-pair threshold p17 uses; LSH
        // recall at cos 0.4 is partial by design — the returned subset is
        // still deterministic (seeded hyperplanes)
        TpchGraph.lshPairs(s, d)
          .orderBy("id_a", "id_b")
      },
      Some(lshNearDupOracle), // seeded planes inlined as literals — exact SQL twin
      "dedup — corpus-scale embedding near-dup: sign-LSH blocking + exact cosine verify " +
        "(no all-pairs join; shuffles only bucket keys and candidates)"),

    Q("p12_stream_hourly",
      (s, d) => EventStream.runHourlyStream(s, d),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value),2) AS sum_value
        FROM events GROUP BY 1,2 ORDER BY 1,2"""),
      "streaming — Structured Streaming windowed aggregation == batch answer"),

    Q("p15_label_centroids",
      (s, d) => Similarity.labelCentroids(table(s, d, "embeddings"),
        col("label"), col("embedding")),
      Some("""
        SELECT label, u.i - 1 AS pos, round(avg(u.v), 4) + 0 AS c
        FROM (SELECT label,
                     unnest(list_transform(generate_series(1, len(embedding)),
                            i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
              FROM embeddings)
        GROUP BY label, u.i ORDER BY label, pos"""),
      "similarity — per-label mean embeddings (IVF coarse quantizer) via posexplode aggregate"),

    Q("p16_ivf_ann",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cents = Similarity.labelCentroids(emb, col("label"), col("embedding"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        val query = emb.filter(col("vec_id") === 3)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
          cents, query, k = 10, nprobe = 4)
      },
      Some(ivfAnnOracle), // centroids/probes re-derived in SQL from the same rounded means
      "similarity — IVF bucketed ANN (probe nearest buckets, exact re-rank)"),

    Q("p21_hash_split",
      (s, d) => table(s, d, "documents")
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split"),
      Some("""
        SELECT lang,
               CASE WHEN h < 0.8 THEN 'train' WHEN h < 0.9 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT lang,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                       / 268435456.0 AS h
              FROM documents)
        GROUP BY lang, split ORDER BY lang, split"""),
      "sampling — deterministic md5-hash train/val/test split (reproducible across " +
        "engines, retries, and repartitioning; no rand())"),

    Q("p23_gap_fill",
      (s, d) => {
        val ev = table(s, d, "events")
          .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("n"))
        // dense hour spine from one scalar-agg row; broadcast both small
        // sides — zero-filling never reshuffles the fact table
        val spine = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
        val types = ev.select("event_type").distinct()
        broadcast(spine).crossJoin(broadcast(types))
          .join(counts, Seq("h", "event_type"), "left")
          .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("hour_start", "event_type")
      },
      Some("""
        WITH e AS (SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type FROM events),
        b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        spine AS (SELECT unnest(list_transform(
                    generate_series(0, date_diff('hour', lo, hi)),
                    i -> lo + to_hours(i))) AS h FROM b),
        t AS (SELECT DISTINCT event_type FROM e),
        c AS (SELECT h, event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2)
        SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour_start, t.event_type,
               COALESCE(c.n, 0) AS n
        FROM spine s CROSS JOIN t
        LEFT JOIN c ON c.h = s.h AND c.event_type = t.event_type
        ORDER BY 1, 2"""),
      "time series — zero-filled hourly event grid (dense spine from sequence(), " +
        "broadcast spine x types, fact table never reshuffled)"),

    Q("p20_nearest_centroid",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cents = Similarity.labelCentroids(emb, col("label"), col("embedding"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (lab, rows) => lab -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
        Similarity.nearestCentroid(emb, col("vec_id"), col("embedding"), col("label"), cents)
          .groupBy("label", "predicted").agg(count(lit(1)).as("n"))
          .orderBy("label", "predicted")
      },
      Some("""
        WITH cent AS (
          SELECT label AS clabel, list(c ORDER BY pos) AS cvec FROM (
            SELECT label, u.i - 1 AS pos, round(avg(u.v), 4) AS c
            FROM (SELECT label,
                         unnest(list_transform(generate_series(1, len(embedding)),
                                i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                  FROM embeddings)
            GROUP BY label, u.i)
          GROUP BY label),
        best AS (
          SELECT e.vec_id, e.label, c.clabel AS predicted,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC,
                            c.clabel) AS rn
          FROM embeddings e CROSS JOIN cent c)
        SELECT label, predicted, CAST(count(*) AS BIGINT) AS n
        FROM best WHERE rn = 1 GROUP BY label, predicted
        ORDER BY label, predicted"""),
      "similarity — nearest-centroid classification (broadcast centroids, map-side " +
        "argmax, confusion-matrix aggregate)"),

    Q("p14_sessionize",
      (s, d) => EventStream.sessionizeBatch(table(s, d, "events"), gapMinutes = 30),
      Some(sessionizeOracle),
      "streaming — gap-based sessionization (batch form; stateful-streaming twin in EventStreamSpec)"),

    Q("p24_dedup_clusters",
      (s, d) => {
        // the dedup ENDGAME: near-dup pairs → connected components →
        // one canonical representative (min id) per cluster, the rest
        // dropped. Pair generation is the oracled exact form here (the
        // LSH twin p22 generates the same pairs at scale); the collapse
        // is large-star/small-star CC — O(log n) rounds, no driver
        // iteration — followed by one aggregate. At 100 TB this is the
        // only correct shape: transitive near-dups (A~B~C with A!~C)
        // must collapse to ONE keeper, which pairwise filtering alone
        // cannot decide.
        val pairs = Dedup.embeddingNearDups(
          table(s, d, "embeddings"), col("vec_id"), col("embedding"), minCos = 0.4)
          .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
        graft.plans.DfConnectedComponents.run(pairs)
          .groupBy(col("component").cast("long").as("canonical_id"))
          .agg(count(lit(1)).cast("long").as("n_members"),
            (count(lit(1)) - 1).cast("long").as("n_dropped"))
          .orderBy("canonical_id")
      },
      Some(nearDupClusterOracle),
      "dedup — near-dup CLUSTER collapse: transitive closure of near-dup pairs via " +
        "DataFrame CC, one canonical keeper per cluster (min id), rest dropped"),

    Q("p13_multimodal_features",
      (s, d) => Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 200))
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("width"),
          col("height"), col("brightness"))
        .orderBy("media_id"),
      Some("""
        SELECT i AS media_id,
               CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
               CAST(64 + (i % 64) AS INT) AS n_bytes,
               CAST(4 + (i % 16) AS INT) AS width,
               CAST(4 + (i % 8) AS INT) AS height,
               round(CAST(list_sum(list_transform(generate_series(0, (64 + (i % 64)) - 1),
                          j -> (i*31 + j*7) % 256)) AS DOUBLE)
                     / (64 + (i % 64)), 4) AS brightness
        FROM generate_series(0, 199) s(i) ORDER BY media_id"""),
      "multimodal — binary columns + batched (stub) decode via mapPartitions"),

    Q("p33_sequence_packing",
      (s, d) => Packing.packSequences(table(s, d, "documents"),
          col("doc_id"), col("text"), col("source"), contextLen = 256)
        .orderBy("shard", "doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, source AS shard,
                          CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens
                   FROM documents),
        p AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard
                     ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS tok_start FROM t)
        SELECT doc_id, shard, n_tokens, tok_start,
               CAST(floor(tok_start / 256.0) AS BIGINT) AS win_start,
               CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / 256.0) AS BIGINT)
                 AS win_end
        FROM p ORDER BY shard, doc_id"""),
      "packing — GPT-style pack-and-chunk sequence packing: per-shard token prefix " +
        "sums map every document to its context-window range (data-parallel across " +
        "shards, no global order)"),

    Q("p34_pii_scrub",
      (s, d) => {
        // deterministic PII is injected per doc_id (email / phone / IPv4 /
        // none by doc_id % 4) so the scrubber has known ground truth; the
        // oracle builds the identical augmented text and applies the SAME
        // pattern strings (interpolated below), making the redaction
        // engine-portable by construction
        val suffix = when(col("doc_id") % 4 === 0,
            concat(lit(" reach user"), col("doc_id"), lit("@example.com now")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" host 10."), col("doc_id") % 256, lit(".0."),
              col("doc_id") % 100, lit(" up")))
          .otherwise(lit(""))
        val aug = table(s, d, "documents")
          .select(col("doc_id"), concat(col("text"), suffix).as("text"))
        Scrub.scrubPii(aug, col("doc_id"), col("text")).orderBy("doc_id")
      },
      Some(s"""
        WITH aug AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN ' reach user' || doc_id || '@example.com now'
               WHEN doc_id % 4 = 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
               WHEN doc_id % 4 = 2 THEN ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) || ' up'
               ELSE '' END AS text FROM documents),
        st AS (SELECT doc_id, text,
                      regexp_replace(text, '${Scrub.EmailRe}', '<EMAIL>', 'g') AS after_email
               FROM aug),
        st2 AS (SELECT *, regexp_replace(after_email, '${Scrub.PhoneRe}', '<PHONE>', 'g')
                       AS after_phone
                FROM st)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '${Scrub.EmailRe}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(after_email, '${Scrub.PhoneRe}')) AS INT) AS n_phones,
               CAST(len(regexp_extract_all(after_phone, '${Scrub.Ipv4Re}')) AS INT) AS n_ips,
               regexp_replace(after_phone, '${Scrub.Ipv4Re}', '<IP>', 'g') AS scrubbed
        FROM st2 ORDER BY doc_id"""),
      "scrubbing — PII detection + redaction (email / phone / IPv4) with per-class " +
        "counts; lookaround-free patterns run identically on Java regex and RE2 " +
        "engines; pure map-side projection"),

    Q("p35_semdedup",
      (s, d) => {
        // Centroid counts are DERIVED from corpus mass (integer
        // arithmetic both engines reproduce from counts) so cluster
        // size — and with it the within-cluster pair term — stays
        // constant as the corpus grows (the paper's own regime; the
        // fixed-K form measured 11x cost at 4x data, SCALE.md r14).
        // Assignment is IVF-routed through ceil(sqrt(ceil(n/64)))
        // coarse cells; fine centroids are elected PER CELL
        // (ceil(cellCount/64) lowest-id rows, one cell-partitioned
        // window) and joined cell-keyed + merge-pinned, so nothing
        // corpus-proportional is ever globally sorted, broadcast, or
        // collected — the r16 re-shape of the r15 global-limit +
        // broadcast form, which also removes the fine->coarse routing
        // step that could silently drop rows on a 1.000000 rounded-
        // cosine centroid tie.
        Dedup.semDedupAuto(table(s, d, "embeddings"),
            col("vec_id"), col("embedding").cast("array<double>"),
            minCos = 0.4, targetClusterSize = 64)
          .orderBy("vec_id")
      },
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        kk AS (SELECT CAST(ceil(sqrt(CAST((count(*) + 63) // 64 AS DOUBLE))) AS BIGINT) AS k1
               FROM v),
        coarse AS (SELECT cl, cv FROM (
                     SELECT vec_id AS cl, e AS cv,
                            row_number() OVER (ORDER BY vec_id) AS rn
                     FROM v) WHERE rn <= (SELECT k1 FROM kk)),
        rc AS (SELECT vec_id, e, ccl FROM (
                 SELECT v.vec_id, v.e, c.cl AS ccl,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY round(list_cosine_similarity(v.e, c.cv), 6) DESC,
                                   c.cl) AS rn
                 FROM v CROSS JOIN coarse c) WHERE rn = 1),
        fine AS (SELECT ccl, fcl, cvec FROM (
                   SELECT ccl, vec_id AS fcl, e AS cvec,
                          row_number() OVER (PARTITION BY ccl ORDER BY vec_id) AS rn,
                          count(*) OVER (PARTITION BY ccl) AS nc
                   FROM rc) WHERE rn <= (nc + 63) // 64),
        a1 AS (SELECT vec_id, e, cluster FROM (
                 SELECT r.vec_id, r.e, f.fcl AS cluster,
                        row_number() OVER (PARTITION BY r.vec_id
                          ORDER BY round(list_cosine_similarity(r.e, f.cvec), 6) DESC,
                                   f.fcl) AS rn
                 FROM rc r JOIN fine f ON r.ccl = f.ccl) WHERE rn = 1),
        drp AS (SELECT DISTINCT b.vec_id
                FROM a1 a JOIN a1 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4)
        SELECT a1.vec_id, a1.cluster,
               CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
        FROM a1 LEFT JOIN drp d ON a1.vec_id = d.vec_id
        ORDER BY a1.vec_id"""),
      "dedup — SemDedup-style semantic dedup (Abbas et al. 2023) with corpus-" +
        "derived centroid counts and IVF-routed assignment through " +
        "ceil(sqrt(ceil(n/64))) coarse cells: constant cluster size keeps the " +
        "within-cluster pair term LINEAR in n; fine centroids are elected per " +
        "cell (ceil(cellCount/64) lowest-id rows) so no K-proportional table is " +
        "ever globally sorted or broadcast and a non-empty cell always has a " +
        "centroid (no row can be lost to a routing tie); every cosine rounds " +
        "to 6dp, every tie breaks to the smaller id, so the oracle replays the " +
        "full two-level recurrence; drop = smaller-id cluster-mate at rounded " +
        "cosine >= 0.4"),

    Q("p36_shuffle_order",
      (s, d) => Sampling.shuffleOrder(table(s, d, "documents"),
        col("doc_id"), salt = "epoch0:"),
      Some("""
        SELECT doc_id, md5('epoch0:' || doc_id) AS shuffle_key
        FROM documents ORDER BY shuffle_key, doc_id"""),
      "sampling — deterministic global training-order shuffle: sort by " +
        "md5(salt+id); range-partitioned distributed sort, identical permutation " +
        "on every engine/re-run, new salt = new epoch"),

    Q("p37_asof_join",
      (s, d) => {
        // attach to every purchase the latest at-or-before error of the
        // same user. The right side is pre-deduplicated to unique
        // (user, ts) — max event_id wins — which is the determinism
        // contract native ASOF engines (DuckDB, kdb) assume too.
        // Timestamp contract: both engines see microsecond timestamps —
        // TpchGraph.events normalizes whatever the file carries (legacy
        // int64 nanos or native timestamp[us]) to micros, DuckDB reads
        // either natively — so dedup grouping and the >= comparison agree.
        val ev = graft.sources.TpchGraph.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val errors = ev.filter(col("event_type") === "error")
          .groupBy("user_id", "ts")
          .agg(max(struct(col("event_id"), col("value"))).as("m"))
          .select(col("user_id"), col("ts"),
            col("m.event_id").as("err_id"), col("m.value").as("err_value"))
        AsOf.asofJoin(purchases, errors, "user_id", "ts")
          .select(col("event_id"), col("user_id"),
            col("asof_err_id").as("err_id"), col("asof_err_value").as("err_value"))
          .orderBy("event_id")
      },
      Some("""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        e AS (SELECT user_id, ts, event_id AS err_id, value AS err_value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                             ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'error') WHERE rn = 1)
        SELECT p.event_id, p.user_id, e.err_id, e.err_value
        FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
        ORDER BY p.event_id"""),
      "as-of join — an operator Spark lacks natively, against DuckDB's native ASOF " +
        "JOIN as the oracle: union-and-window form, ONE key shuffle, linear cost " +
        "(a range join + argmax is per-key quadratic and dies on hot keys)"),

    Q("p38_chunk_windows",
      (s, d) => Packing.chunkWindows(table(s, d, "documents"),
          col("doc_id"), col("text"), chunkLen = 64, stride = 48)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, CAST(len(${sqlTokens("text")}) AS INT) AS n
                   FROM documents WHERE regexp_matches(text, '\\S')),
        c AS (SELECT doc_id, n,
                     CASE WHEN n <= 64 THEN 1
                          ELSE CAST(ceil((n - 64) / 48.0) AS INT) + 1 END AS n_chunks
              FROM t WHERE n > 0),
        x AS (SELECT doc_id, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
              FROM c)
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
               CAST(chunk_id * 48 AS INT) AS tok_start,
               CAST(least(chunk_id * 48 + 64, n) AS INT) AS tok_end
        FROM x ORDER BY doc_id, chunk_id"""),
      "chunking — overlapping token windows per document (chunkLen 64, stride 48: " +
        "16-token overlap, full coverage); map-side explode, no shuffle at any scale"),

    Q("p39_quality_topk",
      (s, d) => {
        // per-source quality selection through the custom two-phase-heap
        // physical operator (TopKPerGroup, same operator as q15) — the
        // shuffle carries at most k rows per (source, partition), never
        // the corpus; a window row_number sorts every partition fully
        val scored = table(s, d, "documents").select(col("source"), col("doc_id"),
          TextOps.qualitySignals(col("text"), TextOps.defaultStopwords)
            .getField("stopword_ratio").as("stop_ratio"))
        graft.plans.TopKPerGroup.topK(scored, Seq(col("source")),
            struct(col("stop_ratio"), -col("doc_id")), k = 3)
          .select("source", "doc_id", "stop_ratio")
          .orderBy("source", "doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT source, doc_id,
                 CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens,
                 CAST(len(list_filter(${sqlTokens("lower(text)")},
                      x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS INT) AS n_stop
          FROM documents),
        r AS (SELECT source, doc_id,
                     round(CAST(n_stop AS DOUBLE)/greatest(n_tokens,1),4) AS stop_ratio
              FROM t),
        k AS (SELECT source, doc_id, stop_ratio,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY stop_ratio DESC, doc_id) AS rn
              FROM r)
        SELECT source, doc_id, stop_ratio FROM k WHERE rn <= 3
        ORDER BY source, doc_id"""),
      "selection — per-source top-k by quality score through the custom " +
        "TopKPerGroup operator (bounded heaps, k rows per group per partition " +
        "shuffled — the data-selection shape for corpus curation at 100 TB)"),

    Q("p40_boilerplate_lines",
      (s, d) => {
        // the synthetic docs are single-line, so the fixture renders a
        // multi-line page in-query: per-source nav header + body + per-
        // source copyright footer. Header/footer lines recur across the
        // ~25 docs of each source (df >= 5 at every SF); body lines stay
        // rare (the 8 duplicate texts at sf0.1 give df = 2)
        val aug = table(s, d, "documents").select(col("doc_id"),
          concat(lit("NAV "), col("source"), lit(" HOME\n"), col("text"),
                 lit("\nCOPYRIGHT "), col("source")).as("text"))
        Boilerplate.removeFrequentLines(aug, col("doc_id"), col("text"), minDf = 5)
          .orderBy("doc_id")
      },
      Some("""
        WITH aug AS (SELECT doc_id, 'NAV ' || source || ' HOME' || chr(10) || text ||
                            chr(10) || 'COPYRIGHT ' || source AS text FROM documents),
        l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
        lines AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
          SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
                 i -> struct_pack(pos := i, line := ls[i]))) AS u FROM l0)),
        freq AS (SELECT line FROM (
          SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY line)
          WHERE c >= 5),
        tag AS (SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS is_bp
                FROM lines l LEFT JOIN freq f ON l.line = f.line)
        SELECT doc_id,
               COALESCE(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT is_bp), '') AS clean_text,
               CAST(sum(CASE WHEN is_bp THEN 0 ELSE 1 END) AS INT) AS n_kept,
               CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS INT) AS n_dropped
        FROM tag GROUP BY doc_id ORDER BY doc_id"""),
      "boilerplate — CCNet-style frequent-line removal: per-doc line dedup is " +
        "map-side, the df count is one word-count-shaped shuffle, and the " +
        "heavy-hitter lexicon joins back broadcast — document text never shuffles"),

    Q("p41_token_budget",
      (s, d) => {
        val doc = table(s, d, "documents")
        Sampling.tokenBudgetSelect(doc, col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")),
            TextOps.qualitySignals(col("text"), TextOps.defaultStopwords)
              .getField("stopword_ratio"), budget = 700L)
          .orderBy("source", "cum_tokens", "doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT source, doc_id,
                 CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens,
                 CAST(len(list_filter(${sqlTokens("lower(text)")},
                      x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS INT) AS n_stop
          FROM documents),
        r AS (SELECT source, doc_id, n_tokens,
                     round(CAST(n_stop AS DOUBLE)/greatest(n_tokens,1),4) AS quality
              FROM t),
        c AS (SELECT source, doc_id, n_tokens, quality,
                     CAST(sum(n_tokens) OVER (PARTITION BY source
                          ORDER BY quality DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS cum_tokens
              FROM r)
        SELECT doc_id, source, n_tokens, quality, cum_tokens
        FROM c WHERE cum_tokens <= 700 ORDER BY source, cum_tokens, doc_id"""),
      "curation — greedy per-source selection under a token budget: rank by " +
        "quality, keep while the running token total fits; one stratum-keyed " +
        "window shuffle, AQE handles skewed sources"),

    Q("p42_mixture_weights",
      (s, d) => Corpus.mixtureWeights(table(s, d, "documents"),
          col("source"), col("text"))
        .orderBy("source"),
      Some(s"""
        WITH t AS (SELECT source, count(*) AS n_docs,
                          CAST(sum(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY source),
        s AS (SELECT source, n_docs, n_tokens,
                     round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
                       AS token_share,
                     count(*) OVER () AS k,
                     sum(n_tokens) OVER () AS total
              FROM t)
        SELECT source, n_docs, n_tokens, token_share,
               CASE WHEN n_tokens > 0
                    THEN round(CAST(total AS DOUBLE) / (k * n_tokens), 6) END
                 AS uniform_weight
        FROM s ORDER BY source"""),
      "mixture — per-source doc/token totals, token share, and the uniform-target " +
        "resampling weight (DoReMi-style mixture flattening); one aggregate " +
        "shuffle, the global-total window runs over k post-aggregate rows"),

    Q("p43_quality_gate",
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"), Quality.gate(col("text")).as("g"))
        .select(col("doc_id"), col("g.r_len"), col("g.r_wordlen"), col("g.r_stop"),
          col("g.r_punct"), col("g.r_upper"), col("g.passes"))
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) AS INT) AS n_chars,
                 CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INT) AS n_punct,
                 CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INT) AS n_upper,
                 CAST(len(list_filter(${sqlTokens("lower(text)")},
                      x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS INT) AS n_stop
          FROM documents),
        r AS (
          SELECT doc_id,
                 n_tokens BETWEEN 30 AND 80 AS r_len,
                 round(CAST(n_chars AS DOUBLE)/greatest(n_tokens,1),4) BETWEEN 3.0 AND 6.0 AS r_wordlen,
                 round(CAST(n_stop AS DOUBLE)/greatest(n_tokens,1),4) >= 0.03 AS r_stop,
                 round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1),4) <= 0.1 AS r_punct,
                 round(CAST(n_upper AS DOUBLE)/greatest(n_chars,1),4) <= 0.3 AS r_upper
          FROM t)
        SELECT doc_id, r_len, r_wordlen, r_stop, r_punct, r_upper,
               (r_len AND r_wordlen AND r_stop AND r_punct AND r_upper) AS passes
        FROM r ORDER BY doc_id"""),
      "quality — composite rule gate (Gopher/C4-style length, word-length, " +
        "stopword, symbol, and case rules over one native signal pass; " +
        "thresholds compare 4-dp-rounded ratios so engines agree; map-side, " +
        "zero shuffle — a passes-filter pushes onto the scan)"),

    Q("p44_dup_ngrams",
      (s, d) => Corpus.dupNgramStats(table(s, d, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts
                   FROM documents WHERE regexp_matches(text, '\\S')),
        g AS (SELECT doc_id,
                greatest(len(ts) - 1, 0) AS m2,
                list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
                  i -> array_to_string(ts[i:i+1], ' ')) AS g2,
                greatest(len(ts) - 2, 0) AS m3,
                list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                  i -> array_to_string(ts[i:i+2], ' ')) AS g3
              FROM t),
        d2 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
               FROM (SELECT doc_id, x, count(*) AS c
                     FROM (SELECT doc_id, unnest(g2) AS x FROM g) GROUP BY doc_id, x)
               GROUP BY doc_id),
        d3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
               FROM (SELECT doc_id, x, count(*) AS c
                     FROM (SELECT doc_id, unnest(g3) AS x FROM g) GROUP BY doc_id, x)
               GROUP BY doc_id)
        SELECT g.doc_id,
               CAST(m2 AS INT) AS n_grams_2,
               round(CAST(coalesce(d2.dup, 0) AS DOUBLE)/greatest(m2, 1), 4) AS dup_frac_2,
               CAST(m3 AS INT) AS n_grams_3,
               round(CAST(coalesce(d3.dup, 0) AS DOUBLE)/greatest(m3, 1), 4) AS dup_frac_3
        FROM g LEFT JOIN d2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
        ORDER BY doc_id"""),
      "repetition — duplicate-n-gram coverage (fraction of 2-/3-gram positions " +
        "whose gram repeats within the doc): native index-sort run-scan per row, " +
        "zero shuffle at any corpus size (nothing exploded, no gram strings built)"),

    Q("p45_shared_fp_coverage",
      (s, d) => Dedup.sharedFingerprintCoverage(table(s, d, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id"),
      // the h/fps CTEs replicate p19's winnowing recurrence (B=31 gram
      // hash, window w=8) — fps are distinct per doc by construction, so
      // the per-fp window count IS the document frequency
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text) - 4),
                   i -> (ascii(substring(text, i, 1)) * 923521
                       + ascii(substring(text, i + 1, 1)) * 29791
                       + ascii(substring(text, i + 2, 1)) * 961
                       + ascii(substring(text, i + 3, 1)) * 31
                       + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
          FROM documents
          WHERE length(text) >= 5),
        f AS (
          SELECT doc_id, unnest(list_distinct(
                 list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                   j -> list_min(hs[j:j+7])))) AS fp
          FROM h),
        w AS (SELECT doc_id, count(*) OVER (PARTITION BY fp) AS df FROM f)
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_fp,
               CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS INT) AS n_shared,
               round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / greatest(count(*), 1), 4) AS shared_frac
        FROM w GROUP BY doc_id ORDER BY doc_id"""),
      "dedup diagnostics — cross-doc duplicate SPAN coverage: fraction of each " +
        "doc's winnowing fingerprints shared with any other doc (substring-level " +
        "copy detection); inverted-index window count, never a doc×doc join"),

    Q("p47_top_ngrams",
      (s, d) => Corpus.topNgrams(table(s, d, "documents"), col("text"),
        n = 2, topN = 20),
      Some(s"""
        WITH t AS (SELECT ${sqlTokens("lower(text)")} AS ts FROM documents),
        g AS (SELECT unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
                i -> array_to_string(ts[i:i+1], ' '))) AS gram FROM t)
        SELECT gram, CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20"""),
      "corpus stats — top-k word bigrams (phrase mining / vocab induction): " +
        "map-side explode, partially-aggregated word-count shuffle, TakeOrdered " +
        "top-k — no global sort; ties break on the gram for determinism"),

    Q("p46_pq_adc",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val books = Pq.trainCodebooks(emb, col("label"), col("embedding"),
          numSubspaces = 8)
        val query = emb.filter(col("vec_id") === 3)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        Pq.adcTopK(emb, col("vec_id"), col("embedding"), books, query, k = 10)
      },
      Some(pqAdcOracle),
      "similarity — product quantization: per-subspace codebooks (integer-exact " +
        "means), map-side argmin encode, ADC top-k via M broadcast table lookups " +
        "per row — the corpus never shuffles and never rescans full vectors"),

    Q("p48_curation_funnel",
      (s, d) => graft.pipeline.Curation.curate(table(s, d, "documents"),
          col("doc_id"), col("text"), col("source"),
          evalFilter = col("doc_id") % 97 === 0,
          minShared = 31, budgetPerSource = 700L)
        .funnel.orderBy("stage_idx"),
      // each CTE replicates the stage's oracled operator: gate = p43,
      // dedup key = p05's fingerprint (md5 of folded text), fps = p25's
      // winnowing recurrence, selection = p41's budget window
      Some(s"""
        WITH base AS (SELECT doc_id, text, source, doc_id % 97 = 0 AS is_eval
                      FROM documents),
        train AS (SELECT doc_id, text, source,
                         CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens
                  FROM base WHERE NOT is_eval),
        sig AS (SELECT doc_id, text, source, n_tokens,
                       CAST(length(text) AS INT) AS n_chars,
                       CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INT) AS n_punct,
                       CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INT) AS n_upper,
                       CAST(len(list_filter(${sqlTokens("lower(text)")},
                            x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS INT) AS n_stop
                FROM train),
        gated AS (SELECT doc_id, text, source, n_tokens, n_stop FROM sig
                  WHERE n_tokens BETWEEN 30 AND 80
                    AND round(CAST(n_chars AS DOUBLE)/greatest(n_tokens,1),4) BETWEEN 3.0 AND 6.0
                    AND round(CAST(n_stop AS DOUBLE)/greatest(n_tokens,1),4) >= 0.03
                    AND round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1),4) <= 0.1
                    AND round(CAST(n_upper AS DOUBLE)/greatest(n_chars,1),4) <= 0.3),
        dedup AS (SELECT doc_id, text, source, n_tokens, n_stop FROM (
                    SELECT g.*, row_number() OVER (
                      PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                      ORDER BY doc_id) AS rn FROM gated g) WHERE rn = 1),
        h AS (SELECT doc_id,
                     list_transform(generate_series(1, length(text) - 4),
                       i -> (ascii(substring(text, i, 1)) * 923521
                           + ascii(substring(text, i + 1, 1)) * 29791
                           + ascii(substring(text, i + 2, 1)) * 961
                           + ascii(substring(text, i + 3, 1)) * 31
                           + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
              FROM base WHERE length(text) >= 5),
        fps AS (SELECT doc_id, unnest(list_distinct(
                       list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                         j -> list_min(hs[j:j+7])))) AS fp
                FROM h),
        eval_fps AS (SELECT DISTINCT fp FROM fps JOIN base USING (doc_id) WHERE is_eval),
        cont AS (SELECT fps.doc_id FROM fps
                 JOIN dedup USING (doc_id) JOIN eval_fps USING (fp)
                 GROUP BY fps.doc_id HAVING count(*) >= 31),
        clean AS (SELECT * FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        sel AS (SELECT doc_id, source, n_tokens FROM (
                  SELECT c.doc_id, c.source, c.n_tokens,
                         CAST(sum(c.n_tokens) OVER (PARTITION BY c.source
                              ORDER BY round(CAST(c.n_stop AS DOUBLE)/greatest(c.n_tokens,1),4) DESC, c.doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                  FROM clean c) WHERE cum <= 700)
        SELECT CAST(0 AS INT) AS stage_idx, 'input' AS stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM train
        UNION ALL SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM gated
        UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM dedup
        UNION ALL SELECT 3, 'decontaminate', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM clean
        UNION ALL SELECT 4, 'token_budget', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM sel
        ORDER BY stage_idx"""),
      "curation pipeline — gate → exact dedup → decontaminate → token budget " +
        "composed into ONE DataFrame DAG with a per-stage attrition funnel; " +
        "every stage keeps its operator's scale shape (pushable gate, hash-keyed " +
        "dedup window, broadcast eval fps, stratum-keyed selection window)"),

    Q("p49_jsonl_ingest",
      (s, d) => {
        // render JSONL from the documents table (planting a malformed
        // line every 50 ids), then parse it back through the schema-on-
        // read path — the round-trip is what's under test; the oracle
        // recomputes the expected output directly from the table
        val lines = table(s, d, "documents").select(
          when(col("doc_id") % 50 === 0, lit("{corrupt json line"))
            .otherwise(to_json(struct(col("doc_id"), col("text"), col("source"))))
            .as("line"))
        graft.sources.Ingest.parseJsonl(lines, col("line"))
          .filter(col("valid"))
          .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"),
            col("source"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, CAST(length(text) AS INT) AS n_chars, source
        FROM documents WHERE doc_id % 50 <> 0 ORDER BY doc_id"""),
      "ingest — JSONL documents (the training-data interchange format): " +
        "schema-on-read from_json, malformed lines quarantined as valid=false " +
        "instead of failing the job; map-side, one codegen'd parse per line"),

    Q("p50_lm_quality",
      (s, d) => Corpus.lmScore(table(s, d, "documents"),
          col("doc_id"), col("text"),
          isRef = col("source").isin("src0", "src1"))
        .orderBy("doc_id"),
      Some(s"""
        WITH toks AS (SELECT doc_id, source, ${sqlTokens("lower(text)")} AS ts FROM documents),
        uni AS (SELECT w1, count(*) AS c1
                FROM (SELECT unnest(ts) AS w1 FROM toks WHERE source IN ('src0', 'src1'))
                GROUP BY 1),
        v AS (SELECT count(*) AS v FROM uni),
        bg AS (SELECT doc_id, source,
                 unnest(list_transform(generate_series(1, len(ts) - 1), i -> ts[i])) AS w1,
                 unnest(list_transform(generate_series(1, len(ts) - 1), i -> ts[i+1])) AS w2
               FROM toks WHERE len(ts) >= 2),
        lm AS (SELECT w1, w2,
                      CAST(round(ln(CAST(c2 + 1 AS DOUBLE) / (c1 + v)) * 1e6) AS BIGINT) AS lp_micro
               FROM (SELECT w1, w2, count(*) AS c2 FROM bg
                     WHERE source IN ('src0', 'src1') GROUP BY 1, 2)
               JOIN uni USING (w1) CROSS JOIN v),
        ctx AS (SELECT w1, CAST(round(ln(1.0 / (c1 + v)) * 1e6) AS BIGINT) AS unk_micro
                FROM uni CROSS JOIN v),
        fl AS (SELECT CAST(round(ln(1.0 / v) * 1e6) AS BIGINT) AS floor_micro FROM v),
        sc AS (SELECT doc_id, coalesce(lp_micro, unk_micro, floor_micro) AS m
               FROM bg LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1) CROSS JOIN fl),
        agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, sum(m) AS sm
                FROM sc GROUP BY 1)
        SELECT doc_id, n_bigrams, round(-(sm / 1000000.0) / n_bigrams, 4) AS avg_nll
        FROM agg ORDER BY doc_id"""),
      "quality — CCNet-style LM scoring: add-one word-bigram LM trained on the " +
        "reference slice, every doc scored by avg negative log-likelihood; the " +
        "model broadcasts (the ship-KenLM-to-every-node design), per-bigram " +
        "log-probs live on a 1e-6 integer grid so doc sums are exact longs — " +
        "accumulation-order independent across engines"),

    Q("p51_bloom_decontamination",
      (s, d) => {
        // same leak check as p25, different scale regime: the eval set is
        // represented by a constant-size Bloom sketch instead of its exact
        // broadcast, so the train corpus is prefiltered map-side and only
        // Bloom survivors reach the exact confirm join — identical output
        // (same oracle), bounded memory however large the eval suite grows
        val fps = table(s, d, "documents")
          .select(col("doc_id"),
            explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
        Dedup.bloomDecontaminate(
            trainFps = fps.filter(col("doc_id") % 97 =!= 0),
            evalFps = fps.filter(col("doc_id") % 97 === 0),
            minShared = 3, expectedEvalFps = 100000L, fpp = 0.01)
          .orderBy("doc_id")
      },
      Some(decontaminationOracle),
      "text analysis — Bloom-prefiltered decontamination: constant-memory sketch of " +
        "the eval fingerprints broadcasts, train fps prefilter map-side, exact " +
        "confirm join runs only on survivors — p25's answer without broadcasting " +
        "the exact eval set"),

    Q("p52_dsir_importance",
      (s, d) => Importance.dsirWeights(table(s, d, "documents"),
          col("doc_id"), col("text"),
          isTarget = col("source").isin("src0", "src1"))
        .orderBy("doc_id"),
      Some(s"""
        WITH toks AS (SELECT doc_id, source, ${sqlTokens("lower(text)")} AS ts FROM documents),
        bg AS (SELECT doc_id, source IN ('src0', 'src1') AS is_t,
                      unnest(list_transform(generate_series(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1])) AS g
               FROM toks WHERE len(ts) >= 2),
        f AS (SELECT doc_id, is_t,
                     ('0x' || substring(md5(g), 1, 7))::BIGINT % 64 AS b FROM bg),
        rc AS (SELECT b, count(*) AS c FROM f GROUP BY b),
        tc AS (SELECT b, count(*) AS c FROM f WHERE is_t GROUP BY b),
        tot AS (SELECT (SELECT count(*) FROM f) AS r,
                       (SELECT count(*) FROM f WHERE is_t) AS t),
        ks AS (SELECT unnest(generate_series(0, 63)) AS b),
        lr AS (SELECT ks.b,
                      CAST(round((ln((coalesce(tc.c, 0) + 1.0) / (t + 64))
                                - ln((coalesce(rc.c, 0) + 1.0) / (r + 64))) * 1e6) AS BIGINT) AS lrm
               FROM ks LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot),
        sc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_feats, sum(lrm) AS sm
               FROM f JOIN lr USING (b) GROUP BY doc_id)
        SELECT doc_id, n_feats, CAST(sm AS BIGINT) AS logw_micro
        FROM sc ORDER BY doc_id"""),
      "selection — DSIR importance weighting (Xie et al. 2023): hashed-bigram " +
        "likelihood ratio of target (reference domains) vs raw crawl; one " +
        "64-row estimator aggregate, then codegen'd scoring whose doc-keyed " +
        "shuffle carries one partial (count, sum) row per doc per partition"),

    Q("p53_stratified_sample",
      (s, d) => Sampling.stratifiedHashSample(table(s, d, "documents"),
          col("doc_id"), col("source"),
          rates = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some("""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                   / 268435456.0 AS h
          FROM documents)
        WHERE (source = 'src0' AND h < 0.5)
           OR (source = 'src1' AND h < 0.25)
           OR (source = 'src2' AND h < 0.125)
        ORDER BY doc_id"""),
      "sampling — per-stratum deterministic downsampling (domain rebalancing: keep " +
        "50%/25%/12.5% of three sources, drop the rest); rates broadcast as a " +
        "literal when-chain, membership is a pure function of the id — map-side " +
        "only, reproducible across engines, retries, and repartitioning"),

    Q("p54_bpe_pairs",
      (s, d) => Corpus.bpePairCounts(table(s, d, "documents"),
        col("text"), topN = 30),
      Some(s"""
        WITH w AS (SELECT unnest(${sqlTokens("lower(text)")}) AS w FROM documents),
        v AS (SELECT w, count(*) AS freq FROM w GROUP BY 1),
        p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                     i -> substring(w, i, 2))) AS pair, freq
              FROM v WHERE len(w) >= 2)
        SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 30"""),
      "tokenization — BPE merge-candidate counting (Sennrich et al. 2016): " +
        "character-pair frequencies weighted by word frequency; the corpus " +
        "collapses to its vocab table before any pair explodes, so the pair agg " +
        "is vocab-sized at any corpus scale; exact integer counts"),

    Q("p55_fuzzy_pairs",
      (s, d) => Dedup.fuzzyPairs(table(s, d, "part"),
          col("p_partkey"), col("p_name"),
          blockKey = split(col("p_name"), " ").getItem(0), maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some("""
        WITH p AS (SELECT min(p_partkey) AS id, p_name AS s,
                          split_part(p_name, ' ', 1) AS k
                   FROM part GROUP BY p_name, split_part(p_name, ' ', 1))
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.s, b.s) AS INT) AS dist
        FROM p a JOIN p b ON a.k = b.k AND a.id < b.id
        WHERE levenshtein(a.s, b.s) <= 3
        ORDER BY id_a, id_b"""),
      "dedup — blocked fuzzy record linkage (the reference's bibliographic title " +
        "matching, distributed): distinct-string collapse, first-token blocking, " +
        "threshold-form levenshtein verify (early-abandon, exact integers); the " +
        "quadratic term is bounded per block, never corpus-wide"),

    Q("p56_source_overlap",
      (s, d) => {
        // cross-source duplication matrix: how much content each pair of
        // crawl sources shares. Projecting to (source, fp) DISTINCT
        // before the self-join bounds every posting list by #sources —
        // the f² hazard of a doc-level fp join disappears by construction
        val fps = table(s, d, "documents")
          .select(col("source"),
            explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
          .distinct()
        val a = fps.select(col("fp"), col("source").as("src_a"))
        val b = fps.select(col("fp"), col("source").as("src_b"))
        a.join(b, "fp").filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).cast("long").as("n_shared"))
          .orderBy("src_a", "src_b")
      },
      Some("""
        WITH h AS (
          SELECT source,
                 list_transform(generate_series(1, length(text) - 4),
                   i -> (ascii(substring(text, i, 1)) * 923521
                       + ascii(substring(text, i + 1, 1)) * 29791
                       + ascii(substring(text, i + 2, 1)) * 961
                       + ascii(substring(text, i + 3, 1)) * 31
                       + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
          FROM documents
          WHERE length(text) >= 5),
        fps AS (
          SELECT DISTINCT source, unnest(list_distinct(
                 list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                   j -> list_min(hs[j:j+7])))) AS fp
          FROM h)
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "dedup — cross-source duplication matrix (which sources mirror each other): " +
        "winnowing fingerprints projected to DISTINCT (source, fp) before the " +
        "self-join, so posting lists are bounded by #sources, not #docs — the " +
        "curation report that decides which crawls to drop wholesale"),

    Q("p57_temperature_mixture",
      (s, d) => Corpus.temperatureMixture(table(s, d, "documents"),
          col("source"), col("text"), alpha = 0.3)
        .orderBy("source"),
      Some(s"""
        WITH st AS (SELECT source,
                           CAST(sum(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
                    FROM documents GROUP BY source),
        tot AS (SELECT sum(n_tokens) AS t FROM st),
        m AS (SELECT source, n_tokens,
                     CAST(round(pow(n_tokens / CAST(t AS DOUBLE), 0.3) * 1e6) AS BIGINT) AS tm
              FROM st CROSS JOIN tot)
        SELECT source, n_tokens,
               round(tm / (SELECT CAST(sum(tm) AS DOUBLE) FROM m), 6) AS q
        FROM m ORDER BY source"""),
      "sampling — temperature-scaled mixture probabilities (XLM-R/mT5 α-sampling, " +
        "Conneau et al. 2020, α = 0.3): up-weight low-resource strata; share^α on a " +
        "1e-6 integer grid so the normalizer is an exact-long sum; one k-row " +
        "post-aggregate window, never a corpus shuffle"),

    Q("p58_streaming_dedup",
      (s, d) => {
        // three arrival waves (doc_id mod 3) through the persistent
        // MinHash+LSH store: each batch probes everything accepted so
        // far, accepted docs join the store — the continuous-ingest form
        // of corpus dedup. A fresh store per invocation keeps the run
        // reproducible (bench runs the query twice).
        val dir = graft.core.TempStores.scratchDir("graft_p58_store")
        val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
        val accepted = (0 to 2).map { k =>
          graft.streaming.StreamingDedup.dedupeBatch(
            docs.filter(col("doc_id") % 3 === k),
            col("doc_id"), col("text"), dir.toString).fresh
        }
        accepted.reduce(_ unionByName _)
          .select(col("id").as("doc_id")).orderBy("doc_id")
      },
      Some(streamingDedupOracle),
      "streaming — incremental near-dup filtering over a persistent signature/" +
        "bucket store (batch k probes only accepted docs, on compact band keys); " +
        "oracle recomputes the full MinHash recurrence (inlined permutation " +
        "constants, integer match-count >= 58/64) and replays the greedy " +
        "batch-then-id acceptance order in SQL"),

    Q("p59_ksigma_anomalies",
      (s, d) => {
        val ev = graft.sources.TpchGraph.events(s, d)
        graft.functions.Anomaly.kSigmaFlags(ev, col("event_id"),
            col("user_id"), col("ts"), col("value"), window = 10, k = 2)
          .orderBy("event_id")
      },
      Some("""
        WITH v AS (
          SELECT event_id, user_id AS entity, ts,
                 CAST(round(value * 1000) AS BIGINT) AS v
          FROM events),
        m AS (
          SELECT event_id, entity, v,
                 sum(v)     OVER w AS s,
                 sum(v * v) OVER w AS ss,
                 count(*)   OVER w AS cnt
          FROM v
          WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id
                       ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        SELECT event_id, entity, v AS v_milli, CAST(s AS BIGINT) AS win_sum_milli
        FROM m
        WHERE cnt = 10
          AND (10 * v - s) * (10 * v - s) > 4 * (10 * ss - s * s)
        ORDER BY event_id"""),
      "monitoring — trailing-window k-sigma anomaly flags over the event stream " +
        "(pipeline telemetry drift detection): values on a 1e-3 integer grid so " +
        "both rolling moments are exact-long sums and the 2-sigma test is pure " +
        "integer arithmetic — sliding-frame float sums are NOT engine-portable " +
        "(incremental vs segment-tree summation), exact integers are"),

    Q("p60_funnel",
      (s, d) => graft.functions.Events.funnel(
        graft.sources.TpchGraph.events(s, d),
        col("user_id"), col("ts"), col("event_type"),
        steps = Seq("view", "click", "purchase")),
      Some("""
        WITH v AS (SELECT user_id, min(ts) AS t FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t
              WHERE e.event_type = 'click' GROUP BY 1),
        p AS (SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t
              WHERE e.event_type = 'purchase' GROUP BY 1)
        SELECT * FROM (
          SELECT 1 AS step, 'view' AS event_type,
                 (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_users
          UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
          UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p))
        ORDER BY step"""),
      "analytics — first-touch funnel (view -> click -> purchase, strict " +
        "ordering): each step is one user-keyed aggregate joined to the previous " +
        "frontier, frontiers only shrink; exact timestamps and counts"),

    Q("p61_retention",
      (s, d) => graft.functions.Events.retention(
        graft.sources.TpchGraph.events(s, d), col("user_id"), col("ts")),
      Some("""
        WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        cohort AS (SELECT user_id, min(day) AS cohort_date FROM ev GROUP BY 1),
        act AS (SELECT DISTINCT cohort_date, day - cohort_date AS day_offset, ev.user_id
                FROM ev JOIN cohort ON ev.user_id = cohort.user_id)
        SELECT CAST(cohort_date AS VARCHAR) AS cohort_date,
               CAST(day_offset AS INT) AS day_offset,
               CAST(count(*) AS BIGINT) AS n_users
        FROM act GROUP BY 1, 2 ORDER BY 1, 2"""),
      "analytics — retention cohorts by first-event date and distinct activity-day " +
        "offset: two user-keyed aggregates and one join, DATE arithmetic exact"),

    Q("p62_phash_near_dups",
      (s, d) => {
        // the documents' bytes stand in for decoded image buffers — the
        // decode is the stubbed step (see PHashBands), the resize/
        // threshold/band/blocking machinery is real and oracle-checked.
        // At the 128-bit geometry the gate corpus has NO natural pairs
        // within radius 7, so plant copies (exact at +1000000; at
        // +2000000 the first character is uppercased — pixel 0 is always
        // bytes[0], so the flip lands a small positive hamming distance)
        // to keep the dist-0 and 0<dist<=7 paths live in the gate
        // instead of a trivially-empty pass
        val base = table(s, d, "documents").filter(length(col("text")) > 0)
        val corpus = base.select(col("doc_id"), col("text"))
          .unionByName(base.filter(col("doc_id") < 40)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .unionByName(base.filter(col("doc_id") >= 40 && col("doc_id") < 80)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              // unbounded tail (len = length(text)) — a fixed-length
              // third argument silently truncates docs past that length
              // and diverges from the oracle's unbounded substring
              concat(upper(substring(col("text"), 1, 1)),
                col("text").substr(lit(2), length(col("text")))).as("text")))
        val media = corpus.select(col("doc_id"), col("text").cast("binary").as("content"))
        Multimodal.pHashNearDups(media, col("doc_id"), col("content"),
            maxDist = 7, bands = 8, bitsPerBand = 16)
          .orderBy("id_a", "id_b")
      },
      Some {
        // ::INT per term: DuckDB's bit_count returns TINYINT and the
        // 128-bit geometry's distance can reach exactly 128 — an
        // all-bits-different pair (first seen on the skewed tile's
        // repeated-text docs) overflows the TINYINT sum at 112 + 16
        val dist = (1 to 8).map(i => s"bit_count(xor(a.bd[$i], b.bd[$i]))::INT").mkString(" + ")
        s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE length(text) > 0
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
          WHERE length(text) > 0 AND doc_id < 40
          UNION ALL
          SELECT doc_id + 2000000, upper(substring(text, 1, 1)) || substring(text, 2)
          FROM documents
          WHERE length(text) > 0 AND doc_id >= 40 AND doc_id < 80),
        codes AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text)),
                   i -> ascii(substring(text, i, 1))) AS cs,
                 length(text) AS n
          FROM corpus),
        px AS (
          SELECT doc_id,
                 list_transform(generate_series(0, 127), i -> cs[(i*n)//128 + 1]) AS pixels
          FROM codes WHERE n > 0),
        st AS (SELECT doc_id, pixels, list_sum(pixels) AS total FROM px),
        bands AS (
          SELECT doc_id,
            list_transform(generate_series(0, 7), b ->
              list_sum(list_transform(generate_series(0, 15), j ->
                CASE WHEN pixels[b*16 + j + 1] * 128 > total
                     THEN (1 << (15 - j)) ELSE 0 END))) AS bd
          FROM st)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($dist AS INT) AS dist
        FROM bands a JOIN bands b ON a.doc_id < b.doc_id
        WHERE $dist <= 7
        ORDER BY 1, 2"""
      },
      "multimodal — perceptual-hash (aHash) image near-dup with multi-index " +
        "hamming blocking (Norouzi et al.): stub decode -> 128-sample resize -> " +
        "integer mean threshold -> 8x16-bit bands; maxDist 7 < 8 bands makes the " +
        "band-equality join an EXACT candidate generator (pigeonhole), so the " +
        "oracle's brute-force all-pairs answer matches the blocked plan verbatim; " +
        "shuffle is on compact (band_idx, band_val) keys — 16-bit bands give 65k " +
        "bucket values so per-band collision mass stays ~256x below the 8-bit " +
        "geometry that measured quadratic at sf4.0 (SCALE.md r14)"),

    Q("p63_crosslingual_dedup",
      (s, d) => {
        // langid-routed dedup: near-dup detection runs within each
        // predicted language (planted same-text copies route together);
        // the blocking key is (lang, band, bucket), so per-language
        // signature spaces are independent and prunable
        val base = table(s, d, "documents").filter(col("doc_id") < 150)
          .select(col("doc_id"), col("text"))
        val planted = base.select((col("doc_id") + 10000).as("doc_id"), col("text"))
        val corpus = base.unionByName(planted)
        val withLang = corpus
          .select(col("doc_id"), col("text"), lower(col("text")).as("lt"))
          .select(col("doc_id"), col("text"), col("lt"),
            TextOps.markerTokens(col("lt")).as("mtok"))
          .select(col("doc_id"), col("text"),
            TextOps.langIdFromMarkerTokens(col("mtok"), col("lt")).as("lang_pred"))
        Dedup.minHashNearDupsRouted(withLang, col("doc_id"), col("text"),
            col("lang_pred"), n = 3, numHashes = 64, bands = 32, minJaccard = 0.9)
          .withColumnRenamed("route", "lang")
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 150
          UNION ALL
          SELECT doc_id + 10000, text FROM documents WHERE doc_id < 150),
        sc AS (
          SELECT doc_id,
                 $langHitsSql
          FROM corpus),
        lang AS (SELECT doc_id, $langArgmaxSql AS lang_pred FROM sc),
        toks AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM corpus),
        grams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(ts)-2, 1)),
                          i -> array_to_string(ts[i:i+2], ' '))) AS gram
            FROM toks)
          WHERE len(gram) > 0),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT la.lang_pred AS lang, id_a, id_b,
               round(CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        JOIN lang la ON la.doc_id = id_a
        JOIN lang lb ON lb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= 0.9
          AND la.lang_pred = lb.lang_pred
        ORDER BY id_a, id_b"""),
      "dedup — cross-lingual routing: language-ID argmax routes each doc, then " +
        "MinHash-LSH near-dup detection runs within each language — the blocking " +
        "key is (lang, band, bucket), cross-language pairs are excluded by " +
        "construction, and exact n-gram Jaccard verifies candidates only; the " +
        "oracle recomputes routing + exact same-language pairs brute-force"),

    Q("p64_chunk_dedup",
      (s, d) => Dedup.chunkDedupSignals(table(s, d, "documents"),
          col("doc_id"), col("text"), chunkLen = 32)
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts
                   FROM documents WHERE regexp_matches(text, '\\S')),
        tt AS (SELECT doc_id, ts FROM t WHERE len(ts) > 0),
        ch AS (SELECT doc_id,
                      unnest(list_transform(generate_series(0, (len(ts)-1)//32),
                        i -> md5(array_to_string(ts[i*32+1 : i*32+32], ' ')))) AS h
               FROM tt),
        freq AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        FROM ch JOIN freq USING (h)
        GROUP BY doc_id ORDER BY doc_id"""),
      "dedup — chunk-level (passage) dedup signals (RefinedWeb-style): " +
        "non-overlapping 32-token windows md5-hashed; a chunk in >= 2 distinct " +
        "docs is shared. Map-side explode + one hash-keyed aggregate + a compact " +
        "hash join — catches repeated boilerplate passages whole-doc dedup misses"),

    Q("p65_audio_trim",
      (s, d) => {
        // bytes stand in for PCM samples (stub decode, see AudioTrimStats);
        // windowed energy + threshold + trim range are the real machinery
        val media = table(s, d, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("text").cast("binary").as("content"))
        media.select(col("doc_id"),
            Multimodal.audioTrimStats(col("content"), frameLen = 32, threshold = 60000L).as("t"))
          .select(col("doc_id"),
            col("t.n_frames").as("n_frames"), col("t.n_active").as("n_active"),
            col("t.first_active").as("first_active"), col("t.last_active").as("last_active"))
          .orderBy("doc_id")
      },
      Some("""
        WITH c AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text)),
                   i -> ascii(substring(text, i, 1))) AS cs,
                 length(text) AS n
          FROM documents WHERE length(text) > 0),
        fr AS (SELECT doc_id, unnest(generate_series(0, (n + 31)//32 - 1)) AS f, cs, n FROM c),
        e AS (SELECT doc_id, f,
                list_sum(list_transform(cs[f*32+1 : least(f*32+32, n)],
                  x -> (x-128)*(x-128))) AS e
              FROM fr)
        SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
               CAST(sum(CASE WHEN e > 60000 THEN 1 ELSE 0 END) AS INT) AS n_active,
               CAST(coalesce(min(CASE WHEN e > 60000 THEN f END), -1) AS INT) AS first_active,
               CAST(coalesce(max(CASE WHEN e > 60000 THEN f END), -1) AS INT) AS last_active
        FROM e GROUP BY doc_id ORDER BY doc_id"""),
      "multimodal — voice-activity trimming over PCM-byte frames (stub decode): " +
        "per-frame energy sum((s-128)^2) in exact integers, threshold to active " +
        "frames, first/last give the trim range; one O(n) codegen pass per row, " +
        "map-side only — the pre-ASR silence trim of an audio pipeline"),

    Q("p66_scene_cuts",
      (s, d) => {
        // bytes stand in for decoded frame lumas (stub decode, SceneCuts);
        // the integer mean-delta cut test is the real machinery
        val media = table(s, d, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("text").cast("binary").as("content"))
        media.select(col("doc_id"),
            explode(Multimodal.sceneCuts(col("content"), frameLen = 32, meanDelta = 6)).as("frame_idx"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""
        WITH c AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text)),
                   i -> ascii(substring(text, i, 1))) AS cs,
                 length(text) AS n
          FROM documents WHERE length(text) > 0),
        s AS (SELECT doc_id, unnest(generate_series(0, n//32 - 1)) AS f, cs
              FROM c WHERE n//32 >= 2),
        e AS (SELECT doc_id, f, list_sum(cs[f*32+1 : f*32+32]) AS s FROM s),
        d AS (SELECT doc_id, f,
                s - lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS df
              FROM e)
        SELECT doc_id, CAST(f AS INT) AS frame_idx
        FROM d WHERE abs(df) > 6*32 ORDER BY 1, 2"""),
      "multimodal — scene-cut detection over video frame bytes (stub decode): " +
        "complete 32-byte frames, cut when |sum_i - sum_{i-1}| > delta*frameLen " +
        "(integer cross-multiplied mean-luma jump); one O(n) codegen pass per " +
        "row, map-side only — the shot-boundary step of a frame-sampling pipeline"),

    Q("p67_kmv_distinct",
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(col("source"), explode(TextOps.tokens(lower(col("text")))).as("t"))
        Sketch.kmvDistinct(toks, col("source"), col("t"), k = 64)
          .withColumnRenamed("grp", "source")
          .orderBy("source")
      },
      Some(kmvOracle),
      "sketch — KMV (bottom-k) distinct-token estimate per source: k smallest " +
        "28-bit md5 hashes, est = (k-1)*M div h_k, exact below k (Beyer et al. " +
        "SIGMOD'07). Mergeable by construction — TopKPerGroup executes it as " +
        "per-partition heaps with k rows per group crossing the shuffle; exact " +
        "integer arithmetic, so the estimate is engine-portable where HLL " +
        "registers are not"),

    Q("p68_ivf_store_probe",
      (s, d) => {
        // the index IS the storage layout: vectors land in a parquet store
        // partitioned by coarse-centroid bucket (three incremental append
        // waves = index maintenance), and a query reads ONLY its nprobe
        // bucket directories — partition pruning does the candidate
        // selection before a single row is scanned (pinned in PlanAuditSpec)
        val emb = table(s, d, "embeddings")
        val cents = Similarity.labelCentroids(emb, col("label"), col("embedding"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        val query = emb.filter(col("vec_id") === 3)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val dir = graft.core.TempStores.scratchDir("graft_p68_ivf").toString
        val assigned = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cents)
        Seq(0, 1, 2).foreach { w =>
          assigned.filter(col("id") % 3 === w)
            .write.mode("append").partitionBy("bucket").parquet(dir)
        }
        val probes = Similarity.ivfProbes(cents, query, nprobe = 4)
        val store = s.read.parquet(dir)
          .filter(col("bucket").isin(probes.map(Int.box): _*))
        Similarity.rerankTopK(store, query, k = 10)
      },
      Some(ivfAnnOracle), // identical contract to p16 — the store changes the layout, not the answer
      "similarity — IVF index AS partitioned storage: bucket-partitioned parquet " +
        "store built by three incremental append waves; the probe reads nprobe " +
        "bucket directories via partition pruning (at 100 TB the query planner " +
        "skips ~(1-nprobe/K) of the files before any IO), then exact re-rank — " +
        "same answer as p16, different (scale-defining) physical layout"),

    Q("p69_countmin_heavy_hitters",
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(explode(TextOps.tokens(lower(col("text")))).as("t"))
        val counters = Sketch.countMin(toks, col("t"), depth = 4, width = 2048)
        val top = toks.groupBy("t").agg(count(lit(1)).as("n_exact"))
          .orderBy(desc("n_exact"), asc("t")).limit(20)
        Sketch.cmsEstimate(counters, top, col("t"), depth = 4, width = 2048)
          .select(col("t").as("token"), col("n_exact"), col("cms_est"))
          .orderBy(desc("n_exact"), asc("token"))
      },
      Some(cmsOracle),
      "sketch — Count-Min heavy hitters: 4x2048 integer counter matrix (one " +
        "shuffle, map-side combined to fixed-size state regardless of corpus), " +
        "point estimate = min over rows, always >= exact (Cormode-Muthukrishnan). " +
        "Deterministic + mergeable where SpaceSaving summaries are order-" +
        "dependent; oracle rebuilds the matrix from the same 8 splitmix constants"),

    Q("p70_histogram_quantiles",
      (s, d) => Sketch.histogramQuantiles(table(s, d, "events"),
          col("event_type"), col("value"), Seq(500, 950, 990))
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type", "q_permille"),
      Some("""
        WITH h AS (SELECT event_type AS grp, CAST(floor(value) AS BIGINT) AS bin,
                          count(*) AS cnt
                   FROM events GROUP BY 1, 2),
        c AS (SELECT grp, bin,
                     sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
                     sum(cnt) OVER (PARTITION BY grp) AS total FROM h),
        q AS (SELECT unnest([500, 950, 990]) AS q_permille)
        SELECT grp AS event_type, q_permille, CAST(min(bin) AS BIGINT) AS bin
        FROM c, q WHERE cum * 1000 >= q_permille * total
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "sketch — mergeable-histogram quantiles (p50/p95/p99 per event type): " +
        "equi-width integer bins, first bin whose cumulative count reaches " +
        "ceil(q*N) — the engine-portable counterpart of approx_percentile, whose " +
        "GK summary is merge-order-dependent; the histogram is one map-side-" +
        "combined aggregate bounded by bin count, mergeable by addition"),

    Q("p71_streaming_countmin",
      (s, d) => {
        // incremental sketch maintenance: three arrival waves each build a
        // per-batch Count-Min matrix and MERGE it into the stored one
        // (union + sum — counter addition IS sketch union). Because counter
        // sums are associative, the maintained matrix is bit-identical to
        // the batch matrix over the full corpus: same oracle as p69. Each
        // refresh touches only the delta and the <=8k-row store.
        val dir = graft.core.TempStores.scratchDir("graft_p71_cms").toString
        val docs = table(s, d, "documents")
        def waveToks(w: Int) = docs.filter(col("doc_id") % 3 === w)
          .select(explode(TextOps.tokens(lower(col("text")))).as("t"))
        Seq(0, 1, 2).foreach { w =>
          val delta = Sketch.countMin(waveToks(w), col("t"), depth = 4, width = 2048)
          val merged = if (w == 0) delta
            else s.read.parquet(s"$dir/v${w - 1}").unionByName(delta)
              .groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt"))
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        val counters = s.read.parquet(s"$dir/v2")
        val allToks = docs.select(explode(TextOps.tokens(lower(col("text")))).as("t"))
        val top = allToks.groupBy("t").agg(count(lit(1)).as("n_exact"))
          .orderBy(desc("n_exact"), asc("t")).limit(20)
        Sketch.cmsEstimate(counters, top, col("t"), depth = 4, width = 2048)
          .select(col("t").as("token"), col("n_exact"), col("cms_est"))
          .orderBy(desc("n_exact"), asc("token"))
      },
      Some(cmsOracle), // merged-across-waves matrix == whole-corpus matrix, so p69's oracle holds verbatim
      "streaming — Count-Min maintenance under incremental ingest: per-wave " +
        "matrices merged into a persistent store by counter addition (sketch " +
        "union); associativity makes the maintained matrix bit-identical to the " +
        "full-corpus one, proven by passing the p69 oracle unchanged — O(delta) " +
        "per refresh, fixed-size state"),

    Q("p72_containment_pairs",
      (s, d) => {
        // excerpt corpus: the first 40 tokens of every >=60-token doc
        // re-enter as their own documents (id + 1e6) — the quote/wrapper
        // case containment must catch and symmetric Jaccard cannot
        // (36 shared 5-grams vs ~full-doc union => Jaccard ~0.2, containment 1.0)
        val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
        val ts = TextOps.tokens(lower(col("text")))
        val excerpts = docs
          .filter(size(ts) >= 60)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", slice(ts, 1, 40)).as("text"))
        Dedup.containmentPairs(docs.unionByName(excerpts),
            col("doc_id"), col("text"), n = 5, minContainment = 0.9)
          .orderBy("contained", "container")
      },
      Some(s"""
        WITH toks0 AS (
          SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        corpus AS (
          SELECT doc_id, ts FROM toks0
          UNION ALL
          SELECT doc_id + 1000000, ts[1:40] FROM toks0 WHERE len(ts) >= 60),
        grams AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substring(md5(gram), 1, 7))::BIGINT AS gram FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(ts)-4, 1)),
                          i -> array_to_string(ts[i:i+4], ' '))) AS gram
            FROM corpus)
          WHERE len(gram) > 0),
        sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT CASE WHEN sa.n_grams < sb.n_grams
                      OR (sa.n_grams = sb.n_grams AND id_a < id_b)
                    THEN id_a ELSE id_b END AS contained,
               CASE WHEN sa.n_grams < sb.n_grams
                      OR (sa.n_grams = sb.n_grams AND id_a < id_b)
                    THEN id_b ELSE id_a END AS container,
               round(CAST(n_common AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6)
                 AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / least(sa.n_grams, sb.n_grams) >= 0.9
        ORDER BY 1, 2"""),
      "dedup — asymmetric containment |A∩B|/min(|A|,|B|) (Broder): catches a " +
        "short doc fully quoted inside a long one, where symmetric Jaccard is " +
        "~|A|/|B| and every threshold misses it; same inverted-index shape as " +
        "p06 (the gram join is the only pair generator), hot-gram cap available " +
        "for the 100 TB path"),

    Q("p73_frame_samples",
      (s, d) => {
        val media = table(s, d, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("text").cast("binary").as("content"))
        Multimodal.frameSamples(media, col("doc_id"), col("content"),
            frameLen = 32, meanDelta = 6)
          .orderBy("doc_id", "shot_idx")
      },
      Some("""
        WITH c AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text)),
                   i -> ascii(substring(text, i, 1))) AS cs,
                 length(text) AS n
          FROM documents WHERE length(text) > 0),
        fr AS (SELECT doc_id, unnest(generate_series(0, n//32 - 1)) AS f, cs
               FROM c WHERE n//32 >= 2),
        e AS (SELECT doc_id, f, list_sum(cs[f*32+1 : f*32+32]) AS s FROM fr),
        dd AS (SELECT doc_id, f,
                 s - lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS df
               FROM e),
        cuts AS (SELECT doc_id, f FROM dd WHERE abs(df) > 192),
        nf AS (SELECT doc_id, n//32 AS nf FROM c WHERE n//32 >= 1),
        bounds AS (
          SELECT doc_id, 0 AS b FROM nf
          UNION ALL SELECT doc_id, f FROM cuts
          UNION ALL SELECT doc_id, nf FROM nf),
        shots AS (
          SELECT doc_id, b, lead(b) OVER (PARTITION BY doc_id ORDER BY b) AS e
          FROM bounds),
        kept AS (SELECT doc_id, b, e FROM shots WHERE e IS NOT NULL)
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS INT)
                 AS shot_idx,
               CAST(b AS INT) AS start_frame, CAST(e AS INT) AS end_frame,
               CAST((b + e - 1) // 2 AS INT) AS rep_frame,
               CAST(((b + e - 1) // 2) * 32 AS INT) AS byte_off,
               32 AS byte_len
        FROM kept ORDER BY doc_id, shot_idx"""),
      "multimodal — shot-boundary frame sampling: scene cuts split the " +
        "complete-frame range into shots, each contributing its middle frame as " +
        "(rep_frame, byte_off, byte_len) for a downstream decoder; per-shot " +
        "(not per-stride) sampling keeps long static shots from flooding the " +
        "sample. Codegen cut pass + one per-doc window, no extra shuffle"),

    Q("p74_salted_agg",
      (s, d) => Skew.saltedSum(
          table(s, d, "events")
            .select(col("event_type"), round(col("value") * 1000).cast("long").as("v")),
          "event_type", col("v"), saltFactor = 8)
        .orderBy("event_type"),
      Some("""
        SELECT event_type, CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS total
        FROM events GROUP BY 1 ORDER BY 1"""),
      "skew — two-phase salted aggregation (partial on (key, salt), final on " +
        "key): bounds any hot key's share of a task to 1/saltFactor while the " +
        "algebraic result equals the direct groupBy — the oracle computes the " +
        "direct form; salts are content-hashed, so stage retries re-derive " +
        "identical assignments (no nondeterministic-shuffle rollback)"),

    Q("p75_store_compaction",
      (s, d) => {
        // fragment a partitioned store with three append waves (one file
        // per wave per touched partition — the small-files problem every
        // micro-batch sink accumulates), compact to one file per
        // partition, and serve the per-source rollup from the COMPACTED
        // store: the oracle proves content survived the rewrite; the
        // file-count collapse itself is asserted in CompactSpec
        val base = graft.core.TempStores.scratchDir("graft_p75_store").toString
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        Seq(0, 1, 2).foreach { w =>
          docs.filter(col("doc_id") % 3 === w)
            .write.mode("append").partitionBy("source").parquet(s"$base/raw")
        }
        graft.core.Compact.compact(s, s"$base/raw", s"$base/compact", "source")
        s.read.parquet(s"$base/compact")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY 1"""),
      "maintenance — small-file compaction of an append-only partitioned store: " +
        "repartition BY the partition column routes each partition to one task, " +
        "the partitionBy writer emits one file per directory, and content is " +
        "bit-preserved (oracle = direct rollup of the source table). The ops " +
        "counterpart every micro-batch sink needs at 100 TB"),

    Q("p76_stream_distinct",
      (s, d) => EventStream.runDistinctStream(s, d),
      Some("""
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1 ORDER BY 1"""),
      "streaming — Spark's built-in stateful dedup (dropDuplicates over the " +
        "state store) keeps the first event per (user, type); the per-type " +
        "rollup of kept rows equals COUNT(DISTINCT user_id) — the invariant the " +
        "operator guarantees regardless of which duplicate wins a microbatch. " +
        "Standard-operator counterpart of the custom MinHash streaming dedup " +
        "(p58); production bounds state with dropDuplicatesWithinWatermark"),

    Q("p77_wave_novelty",
      (s, d) => {
        // data-freshness metric for incremental ingest: how much of each
        // arrival wave's substring content (winnowing fingerprints,
        // p19's k=5/w=8 recurrence) was never seen in ANY earlier wave.
        // A collapsing novelty rate is the curation signal to stop
        // ingesting a source
        val wf = table(s, d, "documents")
          .filter(length(col("text")) >= 5)
          .select((col("doc_id") % 3).cast("int").as("wave"),
            explode(array_distinct(
              TextOps.winnowingFingerprints(col("text"), 5, 8))).as("fp"))
          .distinct()
        val firstWave = wf.groupBy("fp").agg(min(col("wave")).as("first_wave"))
        wf.join(firstWave, "fp")
          .groupBy("wave").agg(
            count(lit(1)).as("n_fps"),
            sum(when(col("wave") === col("first_wave"), 1L).otherwise(0L)).as("n_new"))
          .orderBy("wave")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text) - 4),
                   i -> (ascii(substring(text, i, 1)) * 923521
                       + ascii(substring(text, i + 1, 1)) * 29791
                       + ascii(substring(text, i + 2, 1)) * 961
                       + ascii(substring(text, i + 3, 1)) * 31
                       + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
          FROM documents
          WHERE length(text) >= 5),
        f AS (
          SELECT doc_id, unnest(list_distinct(
                 list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                   j -> list_min(hs[j:j+7])))) AS fp
          FROM h),
        wf AS (SELECT DISTINCT CAST(doc_id % 3 AS INT) AS wave, fp FROM f),
        fw AS (SELECT fp, min(wave) AS first_wave FROM wf GROUP BY 1)
        SELECT wave, CAST(count(*) AS BIGINT) AS n_fps,
               CAST(sum(CASE WHEN wave = first_wave THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        FROM wf JOIN fw USING (fp)
        GROUP BY 1 ORDER BY 1"""),
      "curation — per-wave novelty: distinct winnowing fingerprints per arrival " +
        "wave split into seen-before vs first-seen (min-wave per fp); the " +
        "diminishing-returns signal that tells a pipeline when a source is " +
        "mined out. Map-side fp explode, one (wave,fp) distinct, one fp-keyed " +
        "aggregate — no doc-pair term anywhere"),

    Q("p78_modal_align",
      (s, d) => {
        // the modality-alignment join every multimodal pipeline runs
        // (caption<->image-embedding, transcript<->audio-embedding):
        // text-side signals keyed by doc, vector-side cluster labels keyed
        // by vec, joined on the shared id; per-cluster text profile out
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(TextOps.tokens(lower(col("text")))).as("n_tokens"))
        val emb = table(s, d, "embeddings").select(col("vec_id"), col("label"))
        docs.join(emb, col("doc_id") === col("vec_id"))
          .groupBy("label").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("sum_tokens"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy("label")
      },
      Some(s"""
        SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(${sqlTokens("lower(text)")})) AS BIGINT) AS sum_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        GROUP BY 1 ORDER BY 1"""),
      "multimodal — modality-alignment join: text-side signals (token counts, " +
        "languages) joined to vector-side cluster labels on the shared id, " +
        "profiled per cluster — the caption/embedding alignment step of a " +
        "multimodal curation pipeline; equi-join + one aggregate, AQE picks " +
        "broadcast when the vector side's projection is small"),

    Q("p79_policy_filter",
      (s, d) => {
        // license/ToS-style policy engine: ordered rules, highest
        // priority first, first match wins. The ruleset compiles to a
        // literal when-chain (the p53 pattern) — codegen predicates over
        // the scan, no join, no UDF; a changed policy is a recompiled
        // plan, which is exactly how a fixed governance ruleset should
        // deploy (a DATA-driven ruleset would broadcast-join instead)
        val rules = Seq( // (rule_id, contains-token, action), priority desc
          (1, "slow", "drop"),
          (2, "merge", "keep"),
          (3, "scan", "drop"))
        val matched = rules.foldRight(
            struct(lit(0).as("rule_id"), lit("keep").as("action"))) {
          case ((id, tok, act), fallback) =>
            when(array_contains(col("ts"), tok),
              struct(lit(id).as("rule_id"), lit(act).as("action")))
              .otherwise(fallback)
        }
        table(s, d, "documents")
          // stage the token array once — the when-chain would otherwise
          // re-tokenize per rule (the p28 lesson)
          .select(TextOps.tokens(lower(col("text"))).as("ts"))
          .select(matched.getField("rule_id").as("rule_id"),
            matched.getField("action").as("action"))
          .groupBy("rule_id", "action").agg(count(lit(1)).as("n_docs"))
          .orderBy("rule_id")
      },
      Some(s"""
        WITH t AS (SELECT ${sqlTokens("lower(text)")} AS ts FROM documents),
        m AS (SELECT CASE WHEN list_contains(ts, 'slow') THEN 1
                          WHEN list_contains(ts, 'merge') THEN 2
                          WHEN list_contains(ts, 'scan') THEN 3
                          ELSE 0 END AS rule_id,
                     CASE WHEN list_contains(ts, 'slow') THEN 'drop'
                          WHEN list_contains(ts, 'merge') THEN 'keep'
                          WHEN list_contains(ts, 'scan') THEN 'drop'
                          ELSE 'keep' END AS action
              FROM t)
        SELECT rule_id, action, CAST(count(*) AS BIGINT) AS n_docs
        FROM m GROUP BY 1, 2 ORDER BY 1"""),
      "curation — policy filter engine (license/ToS rules): ordered rules, " +
        "first match wins, compiled to a literal when-chain = codegen " +
        "predicates over the scan (no join, no UDF); per-rule hit counts are " +
        "the governance audit trail. The fixed-ruleset deployment shape — a " +
        "data-driven ruleset would broadcast-join a policy table instead"),

    Q("p80_distribution_drift",
      (s, d) => {
        // distribution-shift monitor between consecutive arrival waves:
        // scaled L1 distance sum_t |c_a(t)*N_b - c_b(t)*N_a| over token
        // counts — the cross-multiplied (denominator-free) form of
        // sum |c_a/N_a - c_b/N_b|, exact in longs (precondition: c*N <
        // 2^63; switch the products to DECIMAL beyond that). Alarming
        // drift between waves is the retrain/re-curate trigger. Wave
        // totals are 3 scalars — collected and inlined like centroids
        val counts = table(s, d, "documents")
          .select((col("doc_id") % 3).cast("int").as("wave"),
            explode(TextOps.tokens(lower(col("text")))).as("t"))
          .groupBy("wave", "t").agg(count(lit(1)).as("c"))
          .lckpt()
        val totals = counts.groupBy("wave").agg(sum(col("c")).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        def drift(wa: Int, wb: Int) = {
          val a = counts.filter(col("wave") === wa).select(col("t"), col("c").as("ca"))
          val b = counts.filter(col("wave") === wb).select(col("t"), col("c").as("cb"))
          a.join(b, Seq("t"), "full")
            .agg(
              sum(abs(coalesce(col("ca"), lit(0L)) * totals(wb)
                - coalesce(col("cb"), lit(0L)) * totals(wa))).as("l1_scaled"),
              count(lit(1)).as("n_tokens_union"))
            .select(lit(wa).as("wave_a"), lit(wb).as("wave_b"),
              col("l1_scaled"), col("n_tokens_union"))
        }
        drift(0, 1).unionByName(drift(1, 2)).orderBy("wave_a")
      },
      Some(s"""
        WITH tok AS (SELECT CAST(doc_id % 3 AS INT) AS wave,
                            unnest(${sqlTokens("lower(text)")}) AS t FROM documents),
        c AS (SELECT wave, t, count(*) AS c FROM tok GROUP BY 1, 2),
        n AS (SELECT wave, sum(c) AS n FROM c GROUP BY 1),
        j01 AS (SELECT coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
                FROM (SELECT t, c FROM c WHERE wave = 0) a
                FULL JOIN (SELECT t, c FROM c WHERE wave = 1) b USING (t)),
        j12 AS (SELECT coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
                FROM (SELECT t, c FROM c WHERE wave = 1) a
                FULL JOIN (SELECT t, c FROM c WHERE wave = 2) b USING (t))
        SELECT 0 AS wave_a, 1 AS wave_b,
               CAST(sum(abs(ca * (SELECT n FROM n WHERE wave = 1)
                          - cb * (SELECT n FROM n WHERE wave = 0))) AS BIGINT) AS l1_scaled,
               CAST(count(*) AS BIGINT) AS n_tokens_union
        FROM j01
        UNION ALL
        SELECT 1, 2,
               CAST(sum(abs(ca * (SELECT n FROM n WHERE wave = 2)
                          - cb * (SELECT n FROM n WHERE wave = 1))) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM j12
        ORDER BY wave_a"""),
      "curation — token-distribution drift between consecutive arrival waves: " +
        "exact scaled-L1 sum_t |c_a*N_b - c_b*N_a| (cross-multiplied, " +
        "denominator-free, engine-portable longs) over a full-outer token " +
        "join; the distribution-shift alarm that triggers re-curation. One " +
        "count aggregate + one token-keyed join per wave pair"),

    Q("p81_heavy_hitters_mg",
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(explode(TextOps.tokens(lower(col("text")))).as("t"))
        Sketch.heavyHitters(toks, col("t"), k = 64)
          .orderBy(col("n").desc, col("token"))
      },
      Some(s"""
        WITH toks AS (SELECT unnest(${sqlTokens("lower(text)")}) AS t FROM documents)
        SELECT t AS token, CAST(count(*) AS BIGINT) AS n
        FROM toks GROUP BY 1
        HAVING count(*) * 64 > (SELECT count(*) FROM toks)
        ORDER BY n DESC, token"""),
      "sketch — Misra-Gries heavy hitters with exact confirm: per-partition " +
        "k-counter summaries (one pass, O(k) memory, NO shuffle) merged on " +
        "the driver give a guaranteed superset of every token with freq > " +
        "N/k for ANY arrival order; one candidate-filtered count confirms " +
        "exactly, so the output is a pure function of the input multiset " +
        "(engine-portable despite the summary's order-dependence). The " +
        "confirm aggregate shuffles only candidate-token rows — the oracle's " +
        "GROUP BY/HAVING form shuffles the whole vocabulary"),

    Q("p82_stream_interval_join",
      (s, d) => EventStream.runIntervalJoinStream(s, d),
      Some("""
        WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        j AS (SELECT p.user_id, p.ts AS purchase_ts, p.value
              FROM v JOIN p ON v.user_id = p.user_id
                           AND p.ts >= v.ts
                           AND p.ts <= v.ts + INTERVAL 10 MINUTE)
        SELECT strftime(purchase_ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                 AS sum_value_milli
        FROM j GROUP BY 1 ORDER BY 1"""),
      "streaming — stream-stream INTERVAL join (view→purchase attribution " +
        "within 10 min): two watermarked streams joined on key + event-time " +
        "range; the time bound is what makes join state prunable (a buffered " +
        "view drops once the other side's watermark passes ts+10min). " +
        "Drained append-mode result rolls up identical to the batch interval " +
        "join — the oracle — because inner matches emit independent of the " +
        "watermark"),

    Q("p83_shard_manifest",
      (s, d) => Sampling.shardManifest(
        table(s, d, "documents"),
        col("doc_id"), size(TextOps.tokens(lower(col("text")))), shards = 8),
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 8 AS INT) AS shard,
                 md5('ord:' || CAST(doc_id AS VARCHAR)) AS ord,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS idh,
                 len(${sqlTokens("lower(text)")}) AS n_tokens
          FROM documents)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(idh) AS BIGINT) AS id_hash_sum,
               CAST(arg_min(doc_id, ord) AS BIGINT) AS first_id,
               CAST(arg_max(doc_id, ord) AS BIGINT) AS last_id
        FROM d GROUP BY 1 ORDER BY 1"""),
      "curation — deterministic shard manifest (the writer's last mile): " +
        "md5-keyed shard placement (pure function of the id — retries and " +
        "other engines agree), per-shard row/token counts, an " +
        "order-independent commutative content fingerprint (sum of 28-bit " +
        "id hashes — map-side-combinable, no per-shard lists), and the " +
        "first/last docs in the shard's deterministic read order. One " +
        "aggregate to `shards` rows at any corpus size"),

    Q("p84_zorder_layout",
      (s, d) => {
        // dims: user locality (id mod 256) x time-of-day locality
        // (10-minute slot, 0..143) — the box-query pair an event store
        // actually filters on ("this user cohort, this time band")
        val ev = graft.sources.TpchGraph.events(s, d)
          .select(pmod(col("user_id"), lit(256)).cast("long").as("u"),
            ((hour(col("ts")) * 60 + minute(col("ts"))) / lit(10))
              .cast("long").as("v"))
        ev.select(col("u"), col("v"),
            Layout.zorderValue(col("u"), col("v"), bits = 8).as("z"))
          .groupBy((col("z") / 1024).cast("int").as("z_bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("u")).as("min_u"), max(col("u")).as("max_u"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .orderBy("z_bucket")
      },
      Some {
        val interleave = (0 until 8).map { i =>
          s"((u // ${1L << i}) % 2) * ${1L << (2 * i)}" +
            s" + ((v // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        s"""
        WITH dims AS (
          SELECT CAST(user_id % 256 AS BIGINT) AS u,
                 CAST((hour(ts) * 60 + minute(ts)) // 10 AS BIGINT) AS v
          FROM events),
        z AS (SELECT u, v, $interleave AS z FROM dims)
        SELECT CAST(z // 1024 AS INT) AS z_bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(u) AS BIGINT) AS min_u, CAST(max(u) AS BIGINT) AS max_u,
               CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
        FROM z GROUP BY 1 ORDER BY 1"""
      },
      "layout — Z-order (Morton) clustering key: bit-interleave of two " +
        "bucketed dimensions as pure shift/mask/add arithmetic (codegen, " +
        "engine-portable, no UDF). Per-Z-bucket bounding boxes are " +
        "quadrant-shaped — the property that lets a Z-sorted layout prune " +
        "files by parquet min/max stats for box predicates on ANY " +
        "interleaved dimension; at 100 TB the layout is the index. " +
        "writeZordered range-partitions on the key so each file covers a " +
        "contiguous Z-range (pruning pinned in LayoutSpec)"),

    Q("p85_hard_negatives",
      (s, d) => Similarity.hardNegatives(
        table(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"),
        anchorPred = col("vec_id") < 20, k = 5),
      Some("""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        a AS (SELECT * FROM v WHERE vec_id < 20),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.e, b.e), 6) AS cos
          FROM a JOIN v b ON a.vec_id <> b.vec_id AND a.label <> b.label),
        ranked AS (
          SELECT id_a, id_b, cos,
                 row_number() OVER (PARTITION BY id_a
                                    ORDER BY cos DESC, id_b) AS rn
          FROM pairs)
        SELECT id_a, id_b, cos FROM ranked WHERE rn <= 5
        ORDER BY id_a, cos DESC, id_b"""),
      "similarity — hard-negative mining for contrastive training: per " +
        "anchor, the k most-similar vectors with a DIFFERENT label " +
        "(near-misses, the negatives that actually teach). Broadcast anchor " +
        "batch; ranking via the TopKPerGroup operator (bounded heaps, ≤ k " +
        "rows per anchor cross the shuffle — no full window sort); ties at " +
        "the rounded resolution break by id so the output is " +
        "engine-portable. Full-corpus mining runs the same op inside " +
        "LSH/IVF blocks"),

    Q("p86_dedup_weights",
      (s, d) => {
        // pairs come from the LSH-blocked generator (the 100 TB path, as
        // in p32); the exact-recompute oracle verifies recall end to end
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        val pairs = TpchGraph.lshPairs(s, d)
        Dedup.clusterWeights(emb, col("vec_id"), pairs)
          .orderBy("vec_id")
      },
      Some(lshWeightsOracle),
      "dedup — soft dedup via inverse-cluster-size training weights: hard " +
        "dedup discards variation; down-weighting every member of an n-doc " +
        "near-dup cluster to 1/n keeps it while each piece of content still " +
        "contributes one unit of gradient signal. Pairs come from the " +
        "LSH-blocked generator (the 100 TB path, oracle-replicated like " +
        "p32) and collapse through large-star/small-star CC (O(log n) " +
        "rounds, pair set only); absent ids are singletons at weight 1; " +
        "weights are exact integer micros (scale div n) — engine-portable"),

    Q("p87_stream_static_join",
      (s, d) => EventStream.runStreamStaticJoin(s, d),
      Some("""
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
                 AS sum_value_milli
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE e.event_type = 'purchase'
        GROUP BY 1 ORDER BY 1"""),
      "streaming — stream-static enrichment join (purchase stream × " +
        "customer→nation dim): STATELESS per microbatch — the static side " +
        "broadcasts, nothing buffers, no watermark; the complete-mode " +
        "rollup keeps one row per nation. The broadcast-the-dim, " +
        "never-shuffle-the-stream shape a 100 TB/day feed needs; drained " +
        "result equals the batch join — the oracle"),

    Q("p88_incremental_cc",
      (s, d) => {
        // dedup clusters maintained INCREMENTALLY: two thirds of the
        // near-dup graph is the STANDING STATE — in production that
        // labeling is stored and amortized across refreshes, so it is a
        // per-(session, dir) fixture here (built once, like g40's
        // bucketed layout; a fresh JVM rebuilds). The operator under
        // measurement is the merge: the last wave of edges absorbed via
        // contracted-graph CC — O(delta + touched components), never
        // O(all edges). Answer must equal p32's one-shot collapse
        // (shared oracle). Pairs come from the LSH-blocked generator
        // (the 100 TB path, as in p32).
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        val pairs = TpchGraph.lshPairs(s, d)
          .select(col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst"))
        val delta = pairs.filter(col("src") % 3 === 2 || col("dst") % 3 === 2)
        val comp0 = p88Standing(s, d, pairs)
        graft.plans.DfConnectedComponents.merge(comp0, delta)
          .groupBy(col("component").cast("long").as("canonical_id"))
          .agg(count(lit(1)).cast("long").as("n_members"),
            (count(lit(1)) - 1).cast("long").as("n_dropped"))
          .orderBy("canonical_id")
      },
      Some(lshCollapseOracle), // shared verbatim with p32: merge == one-shot
      "dedup — INCREMENTAL connected-components maintenance (the graph " +
        "counterpart of g38's incremental view): the standing labeling is " +
        "reused as a star contraction, delta edges relabel to super-nodes " +
        "and CC runs over that contracted delta graph only — O(delta + " +
        "touched components) per refresh, never O(all edges); labels stay " +
        "the component-min id so the result is bit-identical to the " +
        "one-shot collapse over the same LSH-blocked pair set (p32's " +
        "oracle, shared verbatim). How a 100 TB dedup graph absorbs a " +
        "daily crawl wave"),

    Q("p89_leakage_free_split",
      (s, d) => {
        // the split decision is keyed on the DUP-CLUSTER fingerprint,
        // not the doc id: duplicates of a test doc cannot land in train
        val docs = table(s, d, "documents")
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        docs.select(col("fp"),
            Sampling.clusterSplitColumn(col("fp"), trainRate = 0.8).as("split"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_clusters"))
          .orderBy("split")
      },
      Some("""
        WITH c AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
          FROM documents),
        s AS (
          SELECT fp,
                 CASE WHEN ('0x' || substring(md5('split:' || fp), 1, 7))::BIGINT
                        / 268435456.0 < 0.8
                      THEN 'train' ELSE 'test' END AS split
          FROM c)
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters
        FROM s GROUP BY 1 ORDER BY 1"""),
      "sampling — leakage-free train/test split: the split decision hashes " +
        "the duplicate-CLUSTER key (normalized-text fingerprint; any " +
        "cluster id works), never the doc id, so every duplicate of a test " +
        "doc lands in test — a doc-keyed split silently leaks test content " +
        "into train through its duplicates. Pure map-side expression, " +
        "reproducible under retries and across engines"),

    Q("p90_thumbnail_resize",
      (s, d) => Multimodal.resizeThumbnails(Multimodal.syntheticMedia(s, 200))
        .toDF()
        .select(col("media_id"), col("kind"), col("thumb_len"), col("thumb_sum"))
        .orderBy("media_id"),
      Some("""
        SELECT i AS media_id,
               CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
               CAST(16 AS INT) AS thumb_len,
               CAST(list_sum(list_transform(generate_series(0, 15),
                    j -> (i*31 + j*((64 + (i % 64)) // 16)*7) % 256)) AS BIGINT)
                 AS thumb_sum
        FROM generate_series(0, 199) s(i) ORDER BY media_id"""),
      "multimodal — stub RESIZE pass (the byte-producing half of the " +
        "decode/feature/resize/frame-sample quartet): each payload " +
        "downsamples to 16 evenly-strided bytes inside the mapPartitions " +
        "batch loop (decoder init once per partition, tight per-row loop — " +
        "the contract a real image scaler drops into); thumb summaries are " +
        "exact integers so the id-derived payload replays in SQL"),

    Q("p91_ann_recall_audit",
      (s, d) => {
        // measure, don't guess: the engine computes its own ANN quality —
        // recall@10 of the IVF probe path against exact brute force, as
        // a query. Both paths are deterministic (rounded cosines, id
        // tie-breaks), so the recall itself is an exact integer — an
        // oracle-checkable number, not a flaky float
        val emb = table(s, d, "embeddings")
        val cents = Similarity.labelCentroids(emb, col("label"), col("embedding"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        val query = emb.filter(col("vec_id") === 3)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val exact = Similarity.cosineTopK(emb, col("vec_id"), col("embedding"),
          query, k = 10).select(col("id"))
        val approx = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
          cents, query, k = 10, nprobe = 4).select(col("id"))
        exact.join(approx, "id")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(10).as("k"), lit(4).as("nprobe"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
      },
      Some(s"""
        SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS nprobe,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(*) * 100000 AS BIGINT) AS recall_micro
        FROM ($ivfAnnOracle) a
        JOIN (
          SELECT vec_id AS id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = 3)), 6) AS cos
            FROM embeddings)
          ORDER BY cos DESC, id LIMIT 10) e USING (id)"""),
      "similarity — ANN recall audit, in-engine: recall@10 of the IVF " +
        "probe path (nprobe=4) against exact brute force, computed as a " +
        "query over the engine's own two paths. Both are deterministic " +
        "(rounded cosines, id tie-breaks) so recall is an exact integer — " +
        "the measure-don't-guess loop a production ANN deployment runs " +
        "continuously to tune nprobe against drifting data"),

    Q("p92_props_extract",
      (s, d) => graft.sources.TpchGraph.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(count(k) AS BIGINT) AS n_with_k,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(min(k) AS BIGINT) AS min_k,
               CAST(max(k) AS BIGINT) AS max_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
        GROUP BY 1 ORDER BY 1"""),
      "events — semi-structured props extraction (schema-on-read): " +
        "get_json_object pulls one path out of the JSON props column " +
        "inside the scan projection (codegen, no UDF, malformed/missing " +
        "paths become nulls the aggregate counts separately), then one " +
        "map-side-combined rollup per event type. The mirror of p49's " +
        "JSONL ingest for the attribute-bag column every event feed " +
        "carries — extract the paths you need, never materialize the bag"),

    Q("p93_source_dup_mass",
      (s, d) => {
        // governance/ROI report: how much of each source's token mass is
        // duplicated passage content — the number that decides which
        // source gets deduped harder or retired (pairs with p77 novelty)
        val docs = table(s, d, "documents")
        val sig = Dedup.chunkDedupSignals(docs, col("doc_id"), col("text"),
          chunkLen = 32)
        // documents is corpus-scale: merge pin (p118 class)
        sig.join(docs.select(col("doc_id"), col("source")).hint("merge"), "doc_id")
          .groupBy("source")
          .agg(sum(col("n_chunks")).as("n_chunks"),
            sum(col("n_shared")).as("n_shared"))
          .select(col("source"), col("n_chunks"), col("n_shared"),
            expr("n_shared * 1000 div n_chunks").as("dup_permille"))
          .orderBy("source")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts
                   FROM documents WHERE regexp_matches(text, '\\S')),
        tt AS (SELECT doc_id, ts FROM t WHERE len(ts) > 0),
        ch AS (SELECT doc_id,
                      unnest(list_transform(generate_series(0, (len(ts)-1)//32),
                        i -> md5(array_to_string(ts[i*32+1 : i*32+32], ' ')))) AS h
               FROM tt),
        freq AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1),
        doc AS (SELECT doc_id, count(*) AS n_chunks,
                       sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
                FROM ch JOIN freq USING (h) GROUP BY doc_id)
        SELECT source, CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
               CAST(sum(n_shared) AS BIGINT) AS n_shared,
               CAST(sum(n_shared) * 1000 // sum(n_chunks) AS BIGINT)
                 AS dup_permille
        FROM doc JOIN documents USING (doc_id)
        GROUP BY 1 ORDER BY 1"""),
      "curation — per-source duplicate-mass report: the fraction of each " +
        "source's passage mass that is shared content (chunk-dedup signals " +
        "rolled up per source, exact integer permille) — the governance " +
        "number that decides which source gets deduped harder or retired; " +
        "pairs with p77's novelty rate for the mine-out trend"),

    Q("p94_lsh_recall_audit",
      (s, d) => {
        // the p91 measure-don't-guess loop applied to dedup blocking:
        // how many exact near-dup pairs does the LSH-blocked path
        // recover? Precision is 1 by construction (every candidate is
        // cosine-verified), so the single number that needs watching is
        // recall — and it is an exact integer, not a sampled estimate
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        // the exact pair set feeds BOTH counts — materialize it once
        // (without the lineage cut the all-pairs join runs twice)
        val exact = Dedup.embeddingNearDups(
          emb, col("vec_id"), col("embedding"), minCos = 0.4)
          .select("id_a", "id_b").lckpt()
        val lsh = TpchGraph.lshPairs(s, d)
          .select("id_a", "id_b")
        val nExact = exact.count()
        val nFound = exact.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
        import s.implicits._
        Seq((nExact, nFound, if (nExact == 0) 1000000L else nFound * 1000000L / nExact))
          .toDF("n_exact_pairs", "n_found_pairs", "recall_micro")
      },
      Some(s"""
        WITH $lshPairCtes,
        lsh AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.4),
        v2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        exact AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM v2 a JOIN v2 b ON a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4)
        SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact_pairs,
               CAST((SELECT count(*) FROM exact SEMI JOIN lsh USING (id_a, id_b))
                 AS BIGINT) AS n_found_pairs,
               CAST(CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 1000000
                    ELSE (SELECT count(*) FROM exact SEMI JOIN lsh USING (id_a, id_b))
                         * 1000000 // (SELECT count(*) FROM exact) END AS BIGINT)
                 AS recall_micro"""),
      "dedup — LSH blocking recall audit, in-engine (p91's " +
        "measure-don't-guess loop applied to near-dup blocking): exact " +
        "pair count vs pairs the LSH-blocked path recovers, as exact " +
        "integers (precision is 1 by construction — every candidate is " +
        "cosine-verified). The number that tunes tables/planesPerTable " +
        "against drifting embeddings"),

    Q("p95_curriculum_interleave",
      (s, d) => {
        // balanced cross-source curriculum: rank within each source by
        // quality (desc), consume in (rank, source) order — round-robin
        // across sources so early training sees every domain at its
        // best, instead of draining one source first. One stratum-keyed
        // window (partitioned — never a global window); the interleave
        // is the SORT ORDER (rank, source), no global position column
        // needed, so nothing in the plan is single-partition
        val doc = table(s, d, "documents")
        val scored = doc.select(col("doc_id"), col("source"),
          TextOps.qualitySignals(col("text"), TextOps.defaultStopwords)
            .getField("stopword_ratio").as("quality"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("source"), col("rank"))
          .orderBy("rank", "source", "doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens,
                 CAST(len(list_filter(${sqlTokens("lower(text)")},
                      x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS INT) AS n_stop
          FROM documents),
        r AS (SELECT doc_id, source,
                     round(CAST(n_stop AS DOUBLE)/greatest(n_tokens,1),4) AS quality
              FROM t)
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
        FROM r ORDER BY rank, source, doc_id"""),
      "curation — curriculum interleave: rank docs within each source by " +
        "quality, consume in (rank, source) order — a deterministic " +
        "round-robin so early training sees every domain at its best " +
        "rather than draining one source first. One PARTITIONED window " +
        "(stratum-keyed, never global); the interleave is the sort order, " +
        "so no single-partition stage exists at any corpus size"),

    Q("p96_bm25_chunk_retrieval",
      (s, d) => Corpus.bm25Chunks(table(s, d, "documents"),
        col("doc_id"), col("text"),
        terms = Seq("spark", "vector", "stream"),
        chunkLen = 32, stride = 32, topK = 20),
      Some(bm25ChunksOracle(Seq("spark", "vector", "stream"),
        chunkLen = 32, stride = 32, k1 = 1.2, b = 0.75, topK = 20)),
      "retrieval — BM25 at CHUNK granularity (the RAG index shape): the " +
        "corpus splits into 32-token windows, each chunk scores as its own " +
        "BM25 document (chunk-level N, avgdl, df), top-k chunks return as " +
        "(doc_id, chunk_id, score). Whole-doc ranking buries a relevant " +
        "passage under length normalization; chunk ranking is what a " +
        "retrieval index serves. Tokens staged once before the chunk " +
        "generator; one scalar-agg pass for constants, map-side scoring, " +
        "TakeOrdered — the corpus never shuffles"),

    Q("p97_weighted_sample",
      (s, d) => Sampling.weightedSample(table(s, d, "documents"),
        col("doc_id"), size(TextOps.tokens(lower(col("text")))), k = 25),
      Some(weightedSampleOracle),
      "sampling — weighted sampling WITHOUT replacement (Efraimidis–" +
        "Spirakis exponential keys): key = ln(u)/w with u the " +
        "deterministic content hash, keep the k largest — distributed " +
        "exactly as sequential weighted sampling, reproducible across " +
        "retries/engines (no rand()), and the selection is one TakeOrdered " +
        "(map-side keys, k rows per partition, no corpus shuffle). How " +
        "'sample N docs proportional to quality' runs at 100 TB"),

    Q("p98_snapshot_diff",
      (s, d) => {
        // dataset-version diff — the reproducibility audit between two
        // corpus snapshots: which docs were added, removed, or CHANGED
        // (same id, different content fingerprint). Snapshots are the
        // deterministic wave split (old = waves 0-1, new = waves 1-2, so
        // all three classes exist); the diff is ONE full-outer join on
        // the id comparing content fingerprints — no text ever shuffles,
        // only (id, md5) pairs
        val docs = table(s, d, "documents")
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
            (col("doc_id") % 3).cast("int").as("wave"))
        val old = docs.filter(col("wave") < 2)
          .select(col("doc_id"), col("fp").as("fp_old"))
        // the new snapshot re-crawled every 5th doc and its content
        // drifted (fingerprint changes) — all four classes materialize
        val nw = docs.filter(col("wave") > 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, md5(concat(col("fp"), lit(":v2"))))
              .otherwise(col("fp")).as("fp_new"))
        old.join(nw, Seq("doc_id"), "full")
          .select(
            when(col("fp_old").isNull, "added")
              .when(col("fp_new").isNull, "removed")
              .when(col("fp_old") =!= col("fp_new"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n_docs"))
          .orderBy("status")
      },
      Some("""
        WITH d AS (SELECT doc_id,
                          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
                          CAST(doc_id % 3 AS INT) AS wave
                   FROM documents),
        old AS (SELECT doc_id, fp AS fp_old FROM d WHERE wave < 2),
        nw  AS (SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN md5(fp || ':v2')
                            ELSE fp END AS fp_new
                FROM d WHERE wave > 0),
        j AS (SELECT CASE WHEN fp_old IS NULL THEN 'added'
                          WHEN fp_new IS NULL THEN 'removed'
                          WHEN fp_old <> fp_new THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM old FULL JOIN nw USING (doc_id))
        SELECT status, CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY 1 ORDER BY 1"""),
      "governance — dataset snapshot diff: added/removed/changed/unchanged " +
        "between two corpus versions by content fingerprint — the " +
        "reproducibility audit a dataset card cites. One full-outer join " +
        "on (id, md5) pairs; document text never shuffles. At 100 TB this " +
        "is the cheap answer to 'what changed between v3 and v4'"),

    Q("p99_multisuite_decontamination",
      (s, d) => {
        // p25 generalized to EVERY benchmark at once: real pipelines
        // decontaminate against a dozen suites; fingerprinting the train
        // corpus once and joining a (suite, fp) union is one pass
        // however many suites there are — per-suite reruns re-fingerprint
        // the corpus N times. Suites are deterministic slices; train =
        // docs in no suite. Eval side stays broadcast-sized (benchmarks
        // always are); the train side never shuffles its text.
        val suites = Seq(("s83", 83), ("s89", 89), ("s97", 97))
        val fps = table(s, d, "documents")
          .select(col("doc_id"),
            explode(TextOps.winnowingFingerprints(col("text"), k = 5, w = 8)).as("fp"))
        val evalFps = suites.map { case (n, m) =>
          fps.filter(col("doc_id") % m === 0)
            .select(lit(n).as("suite"), col("fp")).distinct()
        }.reduce(_ unionByName _)
        val train = fps.filter(
          suites.map { case (_, m) => col("doc_id") % m =!= 0 }.reduce(_ && _))
        train.join(broadcast(evalFps), "fp")
          .groupBy("suite", "doc_id")
          .agg(countDistinct(col("fp")).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .groupBy("suite")
          .agg(count(lit(1)).as("n_docs_flagged"),
            sum(col("n_shared")).as("n_shared_total"))
          .orderBy("suite")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(text) - 4),
                   i -> (ascii(substring(text, i, 1)) * 923521
                       + ascii(substring(text, i + 1, 1)) * 29791
                       + ascii(substring(text, i + 2, 1)) * 961
                       + ascii(substring(text, i + 3, 1)) * 31
                       + ascii(substring(text, i + 4, 1))) % 2147483647) AS hs
          FROM documents
          WHERE length(text) >= 5),
        fps AS (
          SELECT doc_id, unnest(list_distinct(
                 list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                   j -> list_min(hs[j:j+7])))) AS fp
          FROM h),
        ev AS (
          SELECT 's83' AS suite, fp FROM (SELECT DISTINCT fp FROM fps WHERE doc_id % 83 = 0)
          UNION ALL
          SELECT 's89', fp FROM (SELECT DISTINCT fp FROM fps WHERE doc_id % 89 = 0)
          UNION ALL
          SELECT 's97', fp FROM (SELECT DISTINCT fp FROM fps WHERE doc_id % 97 = 0)),
        train AS (SELECT DISTINCT doc_id, fp FROM fps
                  WHERE doc_id % 83 <> 0 AND doc_id % 89 <> 0 AND doc_id % 97 <> 0),
        fl AS (SELECT suite, doc_id, count(*) AS n_shared
               FROM train JOIN ev USING (fp)
               GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT suite, CAST(count(*) AS BIGINT) AS n_docs_flagged,
               CAST(sum(n_shared) AS BIGINT) AS n_shared_total
        FROM fl GROUP BY 1 ORDER BY 1"""),
      "curation — decontamination against EVERY benchmark suite in one " +
        "pass: fingerprint the train corpus once, join a broadcast " +
        "(suite, fp) union, flag per (suite, doc) — however many suites, " +
        "the corpus is fingerprinted exactly once (per-suite reruns " +
        "re-scan it N times). Train = docs in no suite; winnowing " +
        "fingerprints give substring-level leak detection as in p25"),

    Q("p100_dataset_card",
      (s, d) => {
        // the dataset card, as ONE query: the governance artifact every
        // released corpus ships. Signals are staged from a single
        // projection (tokens/fingerprint computed once), each summary is
        // a bounded aggregate (counts, exact-dup mass, histogram-floor
        // length quantiles — never a global sort or window), and the
        // one-row pieces cross-join into the card. Everything is
        // integer-exact, so the card reproduces bit-for-bit anywhere.
        val t = table(s, d, "documents").select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(TextOps.tokens(lower(col("text")))).cast("long").as("n_toks"),
          TextOps.fingerprint(col("text")).as("fp"))
        val basics = t.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"))
        val dups = t.groupBy("fp").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_dup_docs"))
        val qs = Sketch.histogramQuantiles(t, lit("all"), col("n_chars"),
          quantilesPermille = Seq(500, 900))
        val p50 = qs.filter(col("q_permille") === 500)
          .select(col("bin").as("len_p50"))
        val p90 = qs.filter(col("q_permille") === 900)
          .select(col("bin").as("len_p90"))
        basics.crossJoin(dups).crossJoin(p50).crossJoin(p90)
          .select(col("n_docs"), col("n_tokens"), col("n_langs"),
            col("n_sources"), col("n_dup_docs"),
            expr("n_dup_docs * 1000 div n_docs").as("dup_permille"),
            col("len_p50"), col("len_p90"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang, source, n_chars,
                 CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                      x -> len(x) > 0)) AS BIGINT) AS n_toks,
                 md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
          FROM documents),
        basics AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          FROM t),
        dups AS (
          SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dup_docs
          FROM (SELECT fp, count(*) AS c FROM t GROUP BY 1 HAVING count(*) >= 2)),
        hb AS (SELECT CAST(floor(n_chars) AS BIGINT) AS bin, count(*) AS cnt
               FROM t GROUP BY 1),
        hc AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
                      (SELECT count(*) FROM t) AS total
               FROM hb)
        SELECT n_docs, n_tokens, n_langs, n_sources, n_dup_docs,
               CAST(n_dup_docs * 1000 // n_docs AS BIGINT) AS dup_permille,
               (SELECT CAST(min(bin) AS BIGINT) FROM hc
                WHERE cum * 1000 >= 500 * total) AS len_p50,
               (SELECT CAST(min(bin) AS BIGINT) FROM hc
                WHERE cum * 1000 >= 900 * total) AS len_p90
        FROM basics CROSS JOIN dups"""),
      "governance — the dataset card as ONE query: doc/token/language/" +
        "source counts, exact-dup mass (droppable docs + permille), and " +
        "histogram-floor length quantiles, every signal staged from a " +
        "single projection and summarized by bounded aggregates (no " +
        "global sort, no global window). Integer-exact throughout, so the " +
        "card a release ships reproduces bit-for-bit on any engine"),

    Q("p101_streaming_kmv",
      (s, d) => {
        // incremental KMV maintenance — the p71 pattern for cardinality:
        // each arrival wave contributes its per-source bottom-64 distinct
        // hashes, the store merges by distinct-union + re-bottom-64
        // (bottom-k of a union of bottom-k's IS the union's bottom-k),
        // so the maintained estimate matches the one-shot p67 verbatim.
        // Each refresh touches the delta plus a ≤64-rows-per-source store.
        val dir = graft.core.TempStores.scratchDir("graft_p101_kmv")
        val docs = table(s, d, "documents")
        def waveHashes(w: Int) = docs.filter(col("doc_id") % 3 === w)
          .select(col("source").as("grp"),
            explode(TextOps.tokens(lower(col("text")))).as("t"))
          .select(col("grp"), Dedup.gramHash(col("t")).as("h")).distinct()
        Seq(0, 1, 2).foreach { w =>
          val delta = graft.plans.TopKPerGroup.topK(
            waveHashes(w), Seq(col("grp")), -col("h"), 64)
          val merged =
            if (w == 0) delta
            else graft.plans.TopKPerGroup.topK(
              s.read.parquet(s"$dir/v${w - 1}").unionByName(delta).distinct(),
              Seq(col("grp")), -col("h"), 64)
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        val kth = s.read.parquet(s"$dir/v2")
          .groupBy("grp").agg(max(col("h")).as("hk"))
        // exact ground-truth column (full corpus), as p71 does for counts
        val exact = docs
          .select(col("source").as("grp"),
            explode(TextOps.tokens(lower(col("text")))).as("t"))
          .select(col("grp"), Dedup.gramHash(col("t")).as("h")).distinct()
          .groupBy("grp").agg(count(lit(1)).as("n_exact"))
        exact.join(broadcast(kth), "grp")
          .select(col("grp").as("source"), col("n_exact"),
            when(col("n_exact") < 64, col("n_exact"))
              .otherwise(expr(s"${63L * Sketch.GramHashSpace}L div greatest(hk, 1L)"))
              .as("kmv_est"))
          .orderBy("source")
      },
      Some(kmvOracle), // maintained bottom-k == one-shot bottom-k: p67's oracle verbatim
      "streaming — KMV maintenance under incremental ingest: per-wave " +
        "bottom-64 distinct hashes per source merged into the store by " +
        "distinct-union + re-bottom-k (bottom-k of a union of bottom-k's " +
        "IS the union's bottom-k), so the maintained cardinality estimate " +
        "passes the one-shot p67 oracle verbatim — O(delta) per refresh, " +
        "≤ k rows per source of state; the cardinality counterpart of " +
        "p71's Count-Min maintenance"),

    Q("p102_lsh_skew_profile",
      (s, d) => {
        // operational introspection of the p22/p32/p58 dedup index: the
        // per-table bucket-occupancy profile. LSH cost is driven by the
        // LARGEST bucket (candidates are per-bucket quadratic), so this
        // is the skew monitor that decides when to add planes per table
        // or salt a hot bucket — same hyperplanes (seed 7+t) as every
        // LSH consumer, so the profile describes the real index. Shared
        // helper with p103's threshold derivation: the monitor and the
        // salting decision read the same numbers.
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        Dedup.lshOccupancyProfile(emb, col("embedding"), dim).orderBy("tbl")
      },
      Some(s"""
        WITH $lshPairCtes,
        bc AS (SELECT tbl, bucket, count(*) AS c FROM bk GROUP BY 1, 2)
        SELECT tbl, CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(c) AS BIGINT) AS n_vectors,
               CAST(max(c) AS BIGINT) AS max_bucket,
               CAST(sum(c * c) AS BIGINT) AS sum_sq
        FROM bc GROUP BY 1 ORDER BY 1"""),
      "ops — LSH index skew profile: per-table bucket occupancy (bucket " +
        "count, max bucket, Σc² — the exact candidate-pair mass each " +
        "table generates, since per-bucket cost is quadratic). The monitor " +
        "that decides when a table needs more planes or a hot bucket needs " +
        "salting; same hyperplane constants as every LSH consumer, so the " +
        "profile describes the real index, and Σc² is the integer-exact " +
        "cost model the planner can threshold on"),

    Q("p103_lsh_salted_pairs",
      (s, d) => {
        // the ACTING half of the p102 monitor: same LSH near-dup set as
        // p22, but hot buckets are auto-split into hash shards and pairs
        // generated per ordered shard pair — one c²-cost join key becomes
        // k(k+1)/2 independent keys. The thresholds are DERIVED from the
        // measured p102 Σc² profile (deriveSaltingThresholds: fair pair
        // mass per reducer → hot cutoff and shard size), evaluated for a
        // 2048-reducer deployment so the salted path really executes on
        // the test corpus; the OUTPUT is bit-identical to the unsalted
        // operator for ANY thresholds, which is why p22's oracle applies
        // as-is.
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        val profile = Dedup.lshOccupancyProfile(emb, col("embedding"), dim)
        val (hot, shard) = Dedup.deriveSaltingThresholds(profile, partitions = 2048)
        // explicit legacy (4, 6): shares p22's fixed-config oracle
        Dedup.embeddingNearDupsLshSalted(emb, col("vec_id"), col("embedding"),
            minCos = 0.4, dim = dim, planesPerTable = 4, tables = 6,
            hotThreshold = hot, shardTarget = shard)
          .orderBy("id_a", "id_b")
      },
      Some(lshNearDupOracle),
      "skew — auto-salted LSH candidate generation: the p102 occupancy " +
        "profile drives hot-bucket hash-sharding (ordered shard-pair join " +
        "keys), distributing a quadratic bucket across k(k+1)/2 reducers " +
        "with identical output to p22's plain path"),

    Q("p104_text_canonicalize",
      (s, d) => {
        // canonicalization before exact dedup: NFC + casefold + whitespace
        // collapse, then the canonical fingerprint. On this ASCII corpus
        // NFC is an identity fast path (the UnicodeNorm expression skips
        // re-encoding via isNormalized); the unicode semantics are pinned
        // by UnicodeNormSpec goldens, the cross-engine fingerprint
        // equality by this oracle
        val canon = TextOps.canonicalize(table(s, d, "documents").col("text"))
        table(s, d, "documents").select(col("doc_id"),
            md5(canon).as("canon_fp"),
            (canon =!= col("text")).as("changed"),
            length(canon).as("canon_len"))
          .orderBy("doc_id")
      },
      Some("""
        WITH c AS (SELECT doc_id, text,
                     trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS canon
                   FROM documents)
        SELECT doc_id, md5(canon) AS canon_fp, canon <> text AS changed,
               CAST(length(canon) AS INT) AS canon_len
        FROM c ORDER BY doc_id"""),
      "text — canonicalization before dedup (unicode NFC via a native " +
        "codegen expression + casefold + whitespace collapse) and the " +
        "canonical fingerprint; composed/decomposed encodings of the same " +
        "text collapse to one dedup key"),

    Q("p105_source_calibrated_gate",
      (s, d) => {
        // per-source quality CALIBRATION before a global gate: raw scores
        // are not comparable across heterogeneous sources (a mid-quality
        // academic page outscores a good forum post), so normalize to the
        // within-source percentile rank and gate on that. One shuffle
        // (by source) + an in-partition sort; deterministic tie-break by
        // doc_id. At extreme per-source cardinality the same decision
        // comes from a quantile-threshold join (p18-style percentiles
        // broadcast back) — this exact-rank form is the oracle twin.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
        // gate on the RAW rank (as the oracle does — (rank-1)/(n-1) is
        // the same exact-int division on both engines), display rounded
        table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("pr_raw", percent_rank().over(w))
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(col("pr_raw"), 6).as("pr"), (col("pr_raw") >= 0.2).as("kept"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source, n_chars,
               round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY n_chars, doc_id), 6) AS pr,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) >= 0.2 AS kept
        FROM documents ORDER BY doc_id"""),
      "curation — per-source quality calibration: within-source " +
        "percent_rank normalizes incomparable raw scores, then one global " +
        "calibrated threshold gates every source fairly (drops each " +
        "source's bottom quintile instead of whole low-scoring sources)"),

    Q("p106_cdc_chunks",
      (s, d) => Packing.cdcChunks(table(s, d, "documents"),
          col("doc_id"), col("text"), k = 8, divisor = 64)
        .orderBy("doc_id", "chunk_id"),
      Some("""
        WITH d AS (SELECT doc_id, text, CAST(length(text) AS INT) AS n
                   FROM documents WHERE length(text) >= 1),
        b AS (SELECT doc_id, n, text,
                     list_filter(generate_series(8, n - 1), p ->
                       ('0x' || substring(md5(substr(text, p - 7, 8)), 1, 7))::BIGINT % 64 = 0) AS bs
              FROM d),
        c AS (SELECT doc_id, n, text,
                     list_concat(list_concat([1], list_transform(bs, x -> x + 1)), [n + 1]) AS cuts
              FROM b),
        x AS (SELECT doc_id, text, cuts,
                     unnest(generate_series(1, len(cuts) - 1)) AS i
              FROM c)
        SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
               CAST(cuts[i] AS INT) AS c_start,
               CAST(cuts[i + 1] - cuts[i] AS INT) AS c_len,
               md5(substr(text, cuts[i], cuts[i + 1] - cuts[i])) AS fp
        FROM x ORDER BY doc_id, chunk_id"""),
      "chunking — content-defined chunk boundaries (rsync/LBFS trick: cut " +
        "where the k-gram hash ≡ 0 mod divisor): boundaries follow " +
        "content, not offsets, so chunk-level dedup survives insertions " +
        "that shift every fixed window; map-side only, portable md5 gram " +
        "hash, chunks tile each document exactly"),

    Q("p107_intradoc_line_dedup",
      (s, d) => {
        // within-page repetition cleanup (scraper-duplicated nav blocks /
        // headers): keep each distinct line's FIRST occurrence, in order.
        // Complementary to p40 (corpus-frequent boilerplate, needs a
        // shuffle) — this is three array expressions per row, map-side at
        // any scale
        val cleaned = TextOps.dropRepeatedLines(col("text"))
        table(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), "\n")).as("n_lines"),
            size(array_distinct(split(col("text"), "\n"))).as("n_kept"),
            md5(cleaned).as("cleaned_fp"))
          .orderBy("doc_id")
      },
      Some("""
        WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        c AS (SELECT doc_id, ls,
                     list_filter(
                       list_transform(generate_series(1, len(ls)), i ->
                         CASE WHEN list_position(ls, ls[i]) = i THEN ls[i] END),
                       x -> x IS NOT NULL) AS kept
              FROM l)
        SELECT doc_id, CAST(len(ls) AS INT) AS n_lines,
               CAST(len(kept) AS INT) AS n_kept,
               md5(list_aggregate(kept, 'string_agg', chr(10))) AS cleaned_fp
        FROM c ORDER BY doc_id"""),
      "text — intra-document repeated-line removal (first occurrence " +
        "wins, order preserved): the within-page counterpart of p40's " +
        "corpus-level boilerplate pass; array_distinct's first-occurrence " +
        "contract makes it three map-side array expressions per row"),

    Q("p108_stream_dedup_watermark",
      (s, d) => EventStream.runDistinctWithinWatermarkStream(s, d),
      Some("""
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1 ORDER BY 1"""),
      "streaming — dropDuplicatesWithinWatermark: p76's dedup with state " +
        "BOUNDED by event time (a key's state drops once the watermark " +
        "passes its last-seen ts + delay) — the form that survives " +
        "100 TB/day; on the bounded file no state expires, so kept rows " +
        "equal exact distinct"),

    Q("p109_bpe_encode",
      (s, d) => {
        // two-phase BPE: LEARN the merge table from the corpus (p54's
        // pair counting — vocab-sized agg, 30-row driver collect, the
        // same bounded-constant posture as the IVF centroids), then
        // ENCODE every document with the BpeEncode expression. The pair
        // splits at the first CODEPOINT boundary (not char index 1):
        // bpePairCounts built the pair with Spark substr, which counts
        // codepoints, so a supplementary first codepoint must keep its
        // low surrogate.
        // Docs containing characters the ORACLE's replay cannot render
        // faithfully are excluded on BOTH sides (bpeOracleExcl): a
        // literal '[' or ']' corrupts the bracket rendering the chained
        // replaces operate on (and the '['-count piece tally), and
        // non-ASCII whitespace splits words in BpeEncode
        // (Character.isWhitespace) but not in the oracle's \s
        // tokenizer. The generated corpus contains neither, so today
        // the filter keeps 100% of rows — the point is that on a corpus
        // that DOES contain them the gate stays exact instead of
        // mysteriously hash-failing; word-level unicode semantics are
        // pinned by BpeEncodeSpec goldens.
        val docs = table(s, d, "documents")
          .filter(!col("text").rlike(bpeOracleExcl))
        val merges = Corpus.bpePairCounts(docs, col("text"), topN = 30)
          .collect().map(_.getString(0)).toSeq
          .map(p => p.splitAt(p.offsetByCodePoints(0, 1)))
        val pieces = graft.functions.expressions.BpeEncode
          .encodeCol(lower(col("text")), merges)
        docs.select(col("doc_id"),
            graft.functions.TextOps.tokenCount(col("text")).as("n_words"),
            size(pieces).as("n_pieces"),
            round(length(col("text")).cast("double") / size(pieces), 4)
              .as("chars_per_piece"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH w AS (SELECT unnest(${sqlTokens("lower(text)")}) AS w FROM documents
                   WHERE NOT regexp_matches(text, '$bpeOracleExcl')),
        v AS (SELECT w, count(*) AS freq FROM w GROUP BY 1),
        p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                     i -> substring(w, i, 2))) AS pair, freq
              FROM v WHERE len(w) >= 2),
        m AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n
              FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 30),
        ml AS (SELECT list('[' || substring(pair, 1, 1) || '][' || substring(pair, 2) || ']'
                           || chr(1) || '[' || pair || ']' ORDER BY n DESC, pair) AS ms
               FROM m),
        t AS (SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS word FROM documents
              WHERE NOT regexp_matches(text, '$bpeOracleExcl')),
        e AS (SELECT doc_id,
                     list_reduce(list_concat(
                         ['[' || array_to_string(list_transform(
                             generate_series(1, len(word)), i -> substring(word, i, 1)),
                           '][') || ']'],
                         (SELECT ms FROM ml)),
                       (acc, x) -> replace(acc, split_part(x, chr(1), 1),
                                                split_part(x, chr(1), 2))) AS enc
              FROM t),
        c AS (SELECT doc_id,
                     CAST(sum(len(enc) - len(replace(enc, '[', ''))) AS INT) AS n_pieces
              FROM e GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(${sqlTokens("d.text")}) AS INT) AS n_words,
               c.n_pieces,
               round(CAST(len(d.text) AS DOUBLE) / c.n_pieces, 4) AS chars_per_piece
        FROM documents d JOIN c USING (doc_id)
        ORDER BY doc_id"""),
      "tokenization — BPE ENCODE (the apply step to p54's learn step): " +
        "corpus-learned merge ranks applied per word by a codegen " +
        "expression (greedy lowest-rank merging; merge table is a " +
        "broadcast-sized codegen constant). The oracle replays the greedy " +
        "merge EXACTLY in SQL: each word is rendered with every token " +
        "bracketed ('[c][a][t]') so adjacent replace patterns share no " +
        "characters, and the 30 learned merges are folded over the word " +
        "as chained replace() in rank order — equivalent to the loop " +
        "because a merge can never enable a LOWER-ranked pair (new pairs " +
        "always contain the just-created token, which lower ranks cannot " +
        "reference). BpeEncodeSpec goldens additionally pin word-level " +
        "semantics incl. unicode edge cases the corpus lacks"),

    Q("p110_compression_quality",
      (s, d) => {
        // the classic information-density quality rule (repetitive
        // template text deflates tiny; high-entropy noise doesn't deflate
        // at all — both tails get cut): exact integer byte counts plus a
        // micro-grid ratio, flagging both tails. DEFLATE output is not a
        // cross-engine quantity → rows-only driver check; DeflateLenSpec
        // pins the monotonicity and determinism the rule relies on
        // null/empty text is excluded EXPLICITLY on both sides: the
        // golden table skips null rows (no reference length exists) and
        // a zero-byte doc has no defined ratio (the oracle's integer
        // division would error where Spark yields null) — aligning the
        // filters keeps the contract identical on any corpus instead of
        // relying on the generated data containing neither
        val raw = octet_length(col("text"))
        val defl = graft.functions.expressions.DeflateLen.deflateLenCol(col("text"))
        table(s, d, "documents")
          .filter(col("text").isNotNull && octet_length(col("text")) > 0)
          .select(col("doc_id"), raw.as("n_bytes"), defl.as("n_deflate"))
          .withColumn("ratio_micro",
            expr("CAST(n_deflate AS BIGINT) * 1000000 div n_bytes"))
          .withColumn("flagged",
            col("ratio_micro") < 200000L || col("ratio_micro") > 900000L)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH g(doc_id, n_deflate) AS (
          VALUES (CAST(NULL AS BIGINT), CAST(NULL AS INT)) ${DeflateGolden.Marker})
        SELECT d.doc_id,
               CAST(strlen(d.text) AS INT) AS n_bytes,
               g.n_deflate,
               CAST(g.n_deflate AS BIGINT) * 1000000 // strlen(d.text) AS ratio_micro,
               (CAST(g.n_deflate AS BIGINT) * 1000000 // strlen(d.text)) < 200000
                 OR (CAST(g.n_deflate AS BIGINT) * 1000000 // strlen(d.text)) > 900000
                 AS flagged
        FROM documents d JOIN g USING (doc_id)
        WHERE d.text IS NOT NULL AND strlen(d.text) > 0
        ORDER BY d.doc_id"""),
      "quality — DEFLATE compression-ratio signal (the Gopher-style " +
        "information-density rule): per-doc exact compressed/raw byte " +
        "counts via a codegen deflater expression, micro-grid ratio, " +
        "two-tailed flag. DEFLATE is not a cross-engine quantity, so the " +
        "oracle joins a Verify-time golden table (DeflateGolden: direct " +
        "java.util.zip.Deflater over String bytes — independent of the " +
        "expression's UTF8String eval/codegen paths) and recomputes " +
        "ratio+flag in SQL: all five columns hash-checked, compression " +
        "itself pinned by the JDK + DeflateLenSpec goldens"),

    Q("p111_session_timeout_stream",
      (s, d) => EventStream.runSessionTimeoutStream(s, d, gapMinutes = 30),
      Some("""
        WITH t AS (
          SELECT user_id, ts, event_id, value,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events),
        s AS (
          SELECT user_id, ts, event_id, value,
                 sum(CASE WHEN prev_ts IS NULL
                          OR epoch(date_trunc('second', ts))
                             - epoch(date_trunc('second', prev_ts)) > 1800
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
          FROM t)
        SELECT user_id,
               strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value),2) AS sum_value
        FROM s GROUP BY user_id, session_no
        ORDER BY user_id, session_start"""),
      "streaming — PRODUCTION sessionization: flatMapGroupsWithState with " +
        "EVENT-TIME TIMEOUT; sessions flush incrementally as the watermark " +
        "passes last-event + gap, so state holds only open sessions. A " +
        "staged far-future sentinel file drives the final watermark " +
        "advance on the bounded source, so the drained result equals " +
        "p14's batch oracle exactly"),

    Q("p112_lsh_autoconfig",
      (s, d) => {
        // the sf1.0 rehearsal's structural lesson as an OPERATOR: sign-LSH
        // parameters must derive from corpus size, or candidate mass is
        // quadratic-deferred (BENCH_NOTES round 9). For each admission
        // threshold, derive (planes, tables) for THIS corpus, plus the
        // cost/recall ledger a capacity planner needs: expected bucket
        // occupancy (candidate comparisons per vector per table), total
        // estimated candidate mass under the uniform assumption (the
        // measured p102 profile is the skew-aware truth), and the recall
        // the config promises. Derivation is O(thresholds) driver math
        // over one count — nothing shuffles; n²/2^planes and n/2^planes
        // are binary-exact in doubles so the mass columns are
        // engine-portable integers.
        // the derivation itself comes from the shared config-ledger
        // artifact (one count scan per source fingerprint, durable —
        // p130's blocking shape reads the same rows)
        val rows = TpchGraph.LshLedgerThresholds.map { minCos =>
          val (n, planes, tables) = TpchGraph.derivedLshConfig(s, d, minCos)
          val p = Similarity.planeCollisionProb(minCos)
          val pT = math.pow(p, planes.toDouble)
          val recall = 1.0 - math.pow(1.0 - pT, tables.toDouble)
          val occupancy = n.toDouble / math.pow(2.0, planes.toDouble)
          val mass = math.rint(
            tables.toDouble * n.toDouble * n.toDouble / math.pow(2.0, planes.toDouble)).toLong
          (minCos, n, planes, tables,
            BigDecimal(occupancy).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(recall).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            mass)
        }
        import s.implicits._
        rows.toDF("min_cos", "n_vectors", "planes", "tables",
            "occupancy", "recall", "est_candidate_mass")
          .orderBy("min_cos")
      },
      Some("""
        WITH n AS (SELECT count(*)::BIGINT AS n FROM embeddings),
        thr AS (SELECT unnest([0.4, 0.7, 0.9, 0.95]) AS min_cos),
        base AS (
          SELECT t.min_cos, n.n,
                 1.0 - acos(t.min_cos) / pi() AS p,
                 greatest(1, CAST(ceil(round(ln(n.n / 256.0) / ln(2.0), 6)) AS INT))
                   AS planes0
          FROM thr t, n),
        -- the cap backoff as a search: tables(pl) for every pl <= planes0,
        -- keep the largest pl whose table count fits under the 64 cap
        cand AS (
          SELECT min_cos, n, p, planes0,
                 unnest(generate_series(1, planes0)) AS pl
          FROM base),
        tf AS (
          SELECT *, CASE WHEN power(p, pl) >= 1.0 THEN 1
                         ELSE CAST(ceil(round(ln(1.0 - 0.9) / ln(1.0 - power(p, pl)), 6)) AS INT)
                    END AS tbls
          FROM cand),
        pick AS (
          SELECT min_cos, any_value(n) AS n, any_value(p) AS p,
                 coalesce(max(pl) FILTER (WHERE tbls <= 64), 1) AS planes
          FROM tf GROUP BY 1),
        cfg AS (
          SELECT pick.min_cos, pick.n, pick.p, pick.planes,
                 least(64, tf.tbls) AS tables
          FROM pick JOIN tf ON tf.min_cos = pick.min_cos AND tf.pl = pick.planes)
        SELECT min_cos, n AS n_vectors, planes, tables,
               round(n / power(2.0, planes), 6) AS occupancy,
               round(1.0 - power(1.0 - power(p, planes), tables), 6) AS recall,
               CAST(round(tables * n * n / power(2.0, planes), 0) AS BIGINT)
                 AS est_candidate_mass
        FROM cfg ORDER BY min_cos"""),
      "similarity/dedup — corpus-size-derived sign-LSH configuration " +
        "(Similarity.lshConfigFor as a first-class operator): occupancy-" +
        "bounded planes, recall-bounded tables, with the cost/recall " +
        "ledger per admission threshold. The sf1.0 rehearsal measured why " +
        "a FIXED plane count is a deferred quadratic (BENCH_SF1.json); " +
        "this derivation pins candidate work per vector to " +
        "tables·occupancy, linear in corpus size. Transcendental " +
        "intermediates round to 1e-6 before every ceil so the Spark and " +
        "DuckDB derivations agree exactly"),

    Q("p113_hll_distinct",
      (s, d) => {
        // per-source distinct-token HLL alongside the exact ground truth
        // (the KMV p67 pattern for the other standard cardinality
        // sketch). 64 max-merged registers per source — fixed-size,
        // order-independent state; the register checksum hash-pins the
        // sketch itself, not just the estimate.
        val docs = table(s, d, "documents")
        val toks = docs.select(col("source").as("g"),
          explode(graft.functions.TextOps.tokens(lower(col("text")))).as("t"))
        val regs = Sketch.hllRegisters(toks, col("g"), col("t"))
        val exact = toks
          .select(col("g").as("grp"), graft.functions.Dedup.gramHash(col("t")).as("h"))
          .distinct()
          .groupBy("grp").agg(count(lit(1)).as("n_exact"))
        exact.join(broadcast(Sketch.hllEstimate(regs)), "grp")
          .select(col("grp").as("source"), col("n_exact"), col("n_buckets"),
            col("reg_checksum"), col("hll_est_micro"))
          .orderBy("source")
      },
      Some(hllOracle),
      "sketches — HyperLogLog distinct estimate (m=64, α₆₄ bias " +
        "constant, linear-counting small-range correction) per source, " +
        "vs the exact distinct-hash truth. Ranks from exact integer bit " +
        "lengths (length(bin(x)) on both engines, never float log2); " +
        "harmonic sums are dyadic-exact so aggregation order cannot " +
        "change the estimate; registers are max-merged 64-row state — " +
        "the mergeable fixed-size shape that survives 100 TB and " +
        "arbitrary re-partitioning"),

    Q("p114_streaming_hll",
      (s, d) => {
        // incremental HLL maintenance — p101's wave/store pattern for
        // the register sketch: each arrival wave contributes its
        // per-source registers, the store max-merges per (source,
        // bucket). Max is associative AND idempotent, so the maintained
        // registers — and therefore the estimate — equal the one-shot
        // p113 verbatim (shared oracle); each refresh touches the delta
        // plus a ≤64-rows-per-source store.
        val dir = graft.core.TempStores.scratchDir("graft_p114_hll")
        val docs = table(s, d, "documents")
        def waveToks(w: Int) = docs.filter(col("doc_id") % 3 === w)
          .select(col("source").as("g"),
            explode(graft.functions.TextOps.tokens(lower(col("text")))).as("t"))
        Seq(0, 1, 2).foreach { w =>
          val delta = Sketch.hllRegisters(waveToks(w), col("g"), col("t"))
          val merged =
            if (w == 0) delta
            else s.read.parquet(s"$dir/v${w - 1}").unionByName(delta)
              .groupBy("grp", "bucket").agg(max(col("m_j")).as("m_j"))
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        val regs = s.read.parquet(s"$dir/v2")
        val toks = docs.select(col("source").as("g"),
          explode(graft.functions.TextOps.tokens(lower(col("text")))).as("t"))
        val exact = toks
          .select(col("g").as("grp"), graft.functions.Dedup.gramHash(col("t")).as("h"))
          .distinct()
          .groupBy("grp").agg(count(lit(1)).as("n_exact"))
        exact.join(broadcast(Sketch.hllEstimate(regs)), "grp")
          .select(col("grp").as("source"), col("n_exact"), col("n_buckets"),
            col("reg_checksum"), col("hll_est_micro"))
          .orderBy("source")
      },
      Some(hllOracle), // shared verbatim: maintained registers == one-shot
      "sketches — STREAMING HyperLogLog maintenance: per-wave registers " +
        "max-merged into a standing ≤64-rows-per-source store (the p101 " +
        "incremental pattern for the register sketch). Max-merge is " +
        "associative and idempotent, so the maintained estimate passes " +
        "the one-shot p113 oracle verbatim — replayed waves or " +
        "speculative-retry duplicates cannot perturb it; refresh cost is " +
        "O(delta + store)"),

    Q("p115_dup_substring_spans",
      (s, d) => Dedup.duplicateSpans(table(s, d, "documents"),
          col("doc_id"), col("text"), k = 8)
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        b AS (SELECT doc_id, len(ts) AS n, ts FROM t),
        occ AS (SELECT doc_id, u.pos AS pos, u.g AS g
                FROM (SELECT doc_id,
                        unnest(list_transform(generate_series(1, n - 7),
                          i -> {'pos': i - 1, 'g': array_to_string(ts[i:i+7], ' ')})) AS u
                      FROM b WHERE n >= 8)),
        dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
        m AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (g)),
        sp AS (SELECT doc_id, pos,
                      CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                            OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                           THEN 1 ELSE 0 END AS brk
               FROM m),
        sid AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                FROM sp),
        spans AS (SELECT doc_id, span_id, max(pos) - min(pos) + 8 AS span_len
                  FROM sid GROUP BY doc_id, span_id),
        pd AS (SELECT doc_id, count(*) AS n_dup_spans, sum(span_len) AS dup_tokens
               FROM spans GROUP BY doc_id)
        SELECT b.doc_id, CAST(n AS INT) AS n_tokens,
               CAST(coalesce(n_dup_spans, 0) AS INT) AS n_dup_spans,
               CAST(coalesce(dup_tokens, 0) AS INT) AS dup_tokens,
               CAST(floor(coalesce(dup_tokens, 0) * 10000.0 / greatest(n, 1)) AS INT) AS dup_bp
        FROM b LEFT JOIN pd USING (doc_id) ORDER BY doc_id"""),
      "dedup — cross-corpus exact-substring duplicate spans (the token-" +
        "k-gram form of ExactSubstr, Lee et al. 2022): positions whose " +
        "8-token gram recurs anywhere in the corpus, merged into maximal " +
        "per-doc spans with token mass and basis-point fraction. " +
        "Complements chunk dedup (p64/p93): the sliding gram catches " +
        "shared passages at ANY alignment and reports exact extents. " +
        "Linear explode of (doc, pos, 64-bit gram hash) — gram strings " +
        "never shuffle — one frequency aggregate, one hash join back, " +
        "one doc-bounded window; no pairwise term at any scale"),

    Q("p116_interval_overlap_join",
      (s, d) => {
        // batch interval-overlap join (the attribution-window shape):
        // each view/purchase event spans [t, t + 60 + event_id%240 s];
        // report, per user, every (view, purchase) pair whose spans
        // overlap, with exact integer overlap mass. The banded operator
        // bounds candidates by temporal co-location (≤2 buckets per
        // interval at width 300 ≥ max duration 299) where the naive
        // per-user join is quadratic in per-user event count
        val ev = table(s, d, "events").select(
          col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("t"),
          (lit(60L) + col("event_id") % 240).as("dur"))
        def side(tpe: String) = ev.filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id").as("id"),
            col("t").as("start_s"), (col("t") + col("dur")).as("end_s"))
        AsOf.intervalOverlap(side("view"), side("purchase"),
            "user_id", bucketSeconds = 300L)
          .groupBy("user_id").agg(
            count(lit(1)).as("n_pairs"),
            sum("overlap_s").as("overlap_sum_s"),
            max("overlap_s").as("max_overlap_s"))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (SELECT event_id, user_id, event_type,
                           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
                           60 + event_id % 240 AS dur
                    FROM events),
        a AS (SELECT user_id, event_id AS a_id, t AS a_start, t + dur AS a_end
              FROM ev WHERE event_type = 'view'),
        b AS (SELECT user_id, event_id AS b_id, t AS b_start, t + dur AS b_end
              FROM ev WHERE event_type = 'purchase'),
        p AS (SELECT user_id,
                     least(a_end, b_end) - greatest(a_start, b_start) AS overlap_s
              FROM a JOIN b USING (user_id)
              WHERE least(a_end, b_end) - greatest(a_start, b_start) > 0)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(overlap_s) AS BIGINT) AS overlap_sum_s,
               CAST(max(overlap_s) AS BIGINT) AS max_overlap_s
        FROM p GROUP BY user_id ORDER BY user_id"""),
      "temporal join — banded interval-overlap join (batch twin of the " +
        "p82 stream-stream interval join; the ad-attribution / genomics-" +
        "overlap shape): per user, every (view, purchase) pair of " +
        "overlapping time spans with exact integer overlap seconds. " +
        "Catalyst plans a range predicate as filter-after-cross-product " +
        "(f² rows per hot key BEFORE the filter); the banded form " +
        "explodes each interval to the ≤2 fixed-width time buckets it " +
        "touches and equi-joins on (key, bucket), so candidates are " +
        "bounded by true temporal co-location — the property that still " +
        "holds at 100 TB. Oracle is the naive join, fine at oracle scale"),

    Q("p117_streaming_weighted_sample",
      (s, d) => {
        // incremental maintenance of p97's weighted sample — the
        // p101/p114 pattern applied to sampling: each arrival wave
        // contributes its own Efraimidis–Spirakis top-25, the store
        // merges by union + re-top-25 under the total order (es_key
        // DESC, doc_id). Top-k of a union of per-wave top-k's IS the
        // union's top-k, so the maintained sample passes p97's one-shot
        // oracle verbatim; each refresh touches the delta plus a ≤25-row
        // store — how 'keep N docs sampled by quality' stays current
        // under continuous ingest without ever rescanning the corpus
        val dir = graft.core.TempStores.scratchDir("graft_p117_ws")
        val docs = table(s, d, "documents")
        def waveTop(w: Int) = Sampling.weightedSample(
          docs.filter(col("doc_id") % 3 === w),
          col("doc_id"), size(TextOps.tokens(lower(col("text")))), k = 25)
        Seq(0, 1, 2).foreach { w =>
          val delta = waveTop(w)
          val merged =
            if (w == 0) delta
            else s.read.parquet(s"$dir/v${w - 1}").unionByName(delta)
              .orderBy(col("es_key").desc, col("doc_id")).limit(25)
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        s.read.parquet(s"$dir/v2")
          .orderBy(col("es_key").desc, col("doc_id"))
      },
      Some(weightedSampleOracle), // maintained top-k == one-shot: p97's oracle verbatim
      "streaming — weighted-sample maintenance under incremental ingest: " +
        "per-wave Efraimidis–Spirakis top-25 merged into the store by " +
        "union + re-top-k under the (es_key DESC, doc_id) total order — " +
        "top-k of a union of per-wave top-k's IS the union's top-k, so " +
        "the maintained sample passes the one-shot p97 oracle verbatim. " +
        "O(delta + k) per refresh, k rows of state; completes the " +
        "incremental family (p71 counts, p101 cardinality, p114 HLL, " +
        "p88 clusters) with the sampling member"),

    Q("p118_skipgram_pairs",
      (s, d) => Corpus.skipGramPairs(table(s, d, "documents"),
        col("doc_id"), col("text"), window = 2, topK = 40),
      Some(s"""
        WITH t AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        occ AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
                FROM (SELECT doc_id,
                        unnest(list_transform(generate_series(1, len(ts)),
                          i -> {'pos': i, 'tok': ts[i]})) AS u
                      FROM t WHERE len(ts) >= 1)),
        off AS (SELECT unnest([-2, -1, 1, 2]) AS o),
        p AS (SELECT a.tok AS center, b.tok AS context
              FROM occ a CROSS JOIN off
              JOIN occ b ON b.doc_id = a.doc_id AND b.pos = a.pos + off.o)
        SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
        FROM p GROUP BY 1, 2
        ORDER BY n_pairs DESC, center, context LIMIT 40"""),
      "corpus stats — skip-gram (center, context) co-occurrence counts " +
        "(window ±2): the word2vec / GloVe training-pair exporter — the " +
        "count table is the GloVe input matrix and the skip-gram " +
        "sampling distribution. Each occurrence emits its 4 context " +
        "POSITIONS map-side and the pair forms by one (doc, pos) " +
        "equi-join — the p116 banding idea applied to token positions, " +
        "linear where the naive abs(Δpos)≤w self-join is per-doc " +
        "quadratic; map-side combine pre-collapses hot stopword pairs, " +
        "exact long counts, one TakeOrdered top-40"),

    Q("p119_negative_sampling_table",
      (s, d) => Corpus.negativeSamplingTable(table(s, d, "documents"),
        col("text"), topK = 30),
      Some(s"""
        WITH c AS (SELECT t AS token, count(*) AS n
                   FROM (SELECT unnest(${sqlTokens("lower(text)")}) AS t FROM documents)
                   GROUP BY 1),
        w AS (SELECT token, n,
                     CAST(floor(sqrt(sqrt(CAST(n*n*n AS DOUBLE))) * 1000) AS BIGINT) AS w_milli
              FROM c),
        d AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_total FROM w)
        SELECT token, n, w_milli,
               CAST(w_milli * 1000000 // w_total AS BIGINT) AS prob_ppm
        FROM w, d ORDER BY n DESC, token LIMIT 30"""),
      "corpus stats — unigram negative-sampling table (count^0.75, the " +
        "word2vec noise distribution): the second artifact of the " +
        "training-pair pack beside p118. pow() is not bit-portable " +
        "across engines, but x^0.75 = sqrt(sqrt(x³)) is (IEEE sqrt is " +
        "correctly rounded everywhere; x³ exact in a double below 2^53, " +
        "guarded), weights floor to integer millis so the normalizer is " +
        "an exact LONG sum — aggregation-order-independent — and " +
        "probabilities are exact integer ppm. One vocab-sized map-side-" +
        "combined count, one scalar-agg crossJoin broadcast, one " +
        "TakeOrdered"),

    Q("p120_stream_interval_left_join",
      (s, d) => EventStream.runIntervalLeftJoinStream(s, d),
      Some("""
        WITH v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, ts AS purchase_ts, value FROM events
              WHERE event_type = 'purchase'),
        j AS (SELECT v.user_id, v.view_ts, p.purchase_ts, p.value
              FROM v LEFT JOIN p ON p.user_id = v.user_id
                                AND p.purchase_ts >= v.view_ts
                                AND p.purchase_ts <= v.view_ts + INTERVAL 10 MINUTE)
        SELECT strftime(view_ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(purchase_ts) AS BIGINT) AS n_matched,
               CAST(count(*) - count(purchase_ts) AS BIGINT) AS n_unmatched,
               CAST(coalesce(sum(CAST(round(value * 1000) AS BIGINT)), 0) AS BIGINT)
                 AS sum_value_milli
        FROM j GROUP BY 1 ORDER BY 1"""),
      "streaming — stream-stream LEFT OUTER interval join (p82's other " +
        "half): unmatched views emit NULL-extended rows, and those rows " +
        "are the watermark-DEPENDENT part — a view is only declared " +
        "unmatched once the purchase watermark passes view_ts+10min, so " +
        "this is the operator that genuinely exercises watermark-driven " +
        "state eviction (the far-future sentinel file drains the tail on " +
        "a bounded source; shared staging with p111). Per-day rollup of " +
        "views / matched / unmatched (the conversion gap) / matched " +
        "value equals the batch LEFT JOIN verbatim"),

    Q("p121_contrastive_triplets",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        val pairs = TpchGraph.lshPairs(s, d)
        // fixed anchor sample (key range): the export stays linear at
        // any SF where "every anchor with a positive" would be the
        // whole corpus and degenerate to all-pairs negative mining
        Similarity.contrastiveTriplets(emb, col("vec_id"), col("embedding"),
            col("label"), pairs, anchorPred = col("anchor") < 1000)
          .orderBy("anchor")
      },
      Some(contrastiveTripletsOracle),
      "similarity — contrastive TRIPLET export (anchor, positive, " +
        "negative): the metric-learning training table, composed from " +
        "the engine's two halves — positives from the LSH-blocked " +
        "near-dup pair set (the 100 TB generator, never all-pairs; p22's " +
        "oracle-replayed planes), negatives the hardest different-label " +
        "candidate per anchor (p85's shape restricted to the " +
        "near-dup-bounded anchor set, which therefore broadcasts). " +
        "Top-1 picks run through the TopKPerGroup operator — one row " +
        "per anchor crosses each shuffle; rounded-cos + id tie-breaks " +
        "keep the export engine-portable and retry-stable"),

    Q("p122_source_prefix_share",
      (s, d) => Boilerplate.prefixShare(table(s, d, "documents"),
          col("doc_id"), col("text"), col("source"), k = 8)
        .orderBy("source"),
      Some(s"""
        WITH t AS (SELECT source, doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
        b AS (SELECT source, doc_id,
                     CASE WHEN len(ts) >= 8 THEN array_to_string(ts[1:8], ' ') END AS prefix
              FROM t),
        ps AS (SELECT source, count(prefix) AS n_docs,
                      count(*) - count(prefix) AS n_short
               FROM b GROUP BY 1),
        c AS (SELECT source, prefix, count(*) AS n_prefix
              FROM b WHERE prefix IS NOT NULL GROUP BY 1, 2),
        r AS (SELECT source, prefix, n_prefix,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_prefix DESC, prefix DESC) AS rn
              FROM c)
        SELECT r.source, prefix AS top_prefix,
               CAST(n_prefix AS BIGINT) AS n_prefix,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_short AS BIGINT) AS n_short,
               CAST(n_prefix * 1000 // n_docs AS BIGINT) AS share_permille
        FROM r JOIN ps USING (source) WHERE rn = 1 ORDER BY source"""),
      "text analysis — source-level template-PREFIX detection (the C4-" +
        "style scaffolding signal line-frequency misses): per source, " +
        "the most frequent 8-token document prefix and its exact " +
        "permille share — near-1000 means the source is template-" +
        "dominated and the prefix belongs in the strip list. One " +
        "map-side slice projection (no explode, no self-join), one " +
        "(source, prefix) count, top-1 via the bounded-heap operator"),

    Q("p123_waterfill_budget",
      (s, d) => Sampling.waterfillAllocation(table(s, d, "documents"),
          concat(col("source"), lit("/"), col("lang")),
          size(TextOps.tokens(lower(col("text")))),
          budgetNum = 3L, budgetDen = 5L)
        .orderBy("stratum"),
      Some(waterfillOracle),
      "sampling — water-filling token-budget allocation (the mixture " +
        "PLANNING step before the samplers): per (source, lang) stratum, " +
        "allocate min(n, C) where the water level C is the unique " +
        "integer cap fitting the 60% global budget — small strata keep " +
        "everything, over-represented ones flatten, nothing starves. " +
        "Closed-form exact-integer derivation (sorted prefix sums, no " +
        "iteration, no floats to drift at the boundary); windows touch " +
        "one row per STRATUM, never the corpus"),

    Q("p124_mixture_build",
      (s, d) => graft.pipeline.Curation.mixtureBuild(
          table(s, d, "documents"), col("doc_id"), col("text"),
          concat(col("source"), lit("/"), col("lang")),
          minTokens = 20, budgetNum = 1L, budgetDen = 2L)
        .orderBy("stratum"),
      Some(s"""
        WITH d AS (SELECT doc_id, source || '/' || lang AS stratum,
                          CAST(len(${sqlTokens("lower(text)")}) AS BIGINT) AS n_tok,
                          md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
                   FROM documents),
        g AS (SELECT * FROM d WHERE n_tok >= 20),
        dd AS (SELECT doc_id, stratum, n_tok FROM (
                 SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM g)
               WHERE rn = 1),
        m AS (SELECT stratum, CAST(sum(n_tok) AS BIGINT) AS n FROM dd GROUP BY 1),
        st AS (SELECT stratum, n,
                      CAST(coalesce(sum(n) OVER (ORDER BY n, stratum
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
                      row_number() OVER (ORDER BY n, stratum) AS k,
                      count(*) OVER () AS s_total,
                      CAST(sum(n) OVER () AS BIGINT) AS total
               FROM m),
        st2 AS (SELECT *, CAST(total * 1 // 2 AS BIGINT) AS budget,
                       s_total - k + 1 AS r FROM st),
        cp AS (SELECT CAST((budget - prefix) // r AS BIGINT) AS cap
               FROM st2 WHERE prefix + n * r > budget ORDER BY k LIMIT 1),
        alloc AS (SELECT stratum,
                         CAST(CASE WHEN (SELECT cap FROM cp) IS NULL THEN n
                              ELSE least(n, (SELECT cap FROM cp)) END AS BIGINT) AS allocated
                  FROM st2),
        sel AS (SELECT dd.*, CAST(sum(n_tok) OVER (PARTITION BY stratum
                      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM dd),
        chosen AS (SELECT sel.* FROM sel JOIN alloc USING (stratum)
                   WHERE cum <= allocated),
        s_in AS (SELECT stratum, count(*) AS n_docs_in FROM d GROUP BY 1),
        s_g AS (SELECT stratum, count(*) AS n_after_gate FROM g GROUP BY 1),
        s_dd AS (SELECT stratum, count(*) AS n_after_dedup,
                        CAST(sum(n_tok) AS BIGINT) AS tok_after_dedup
                 FROM dd GROUP BY 1),
        s_sel AS (SELECT stratum, count(*) AS n_selected,
                         CAST(sum(n_tok) AS BIGINT) AS tok_selected,
                         CAST(sum(('0x' || substring(md5('fp:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT) AS BIGINT) AS sel_fingerprint
                  FROM chosen GROUP BY 1)
        SELECT s_in.stratum, CAST(n_docs_in AS BIGINT) AS n_docs_in,
               CAST(coalesce(n_after_gate, 0) AS BIGINT) AS n_after_gate,
               CAST(coalesce(n_after_dedup, 0) AS BIGINT) AS n_after_dedup,
               CAST(coalesce(tok_after_dedup, 0) AS BIGINT) AS tok_after_dedup,
               CAST(coalesce(allocated, 0) AS BIGINT) AS allocated,
               CAST(coalesce(n_selected, 0) AS BIGINT) AS n_selected,
               CAST(coalesce(tok_selected, 0) AS BIGINT) AS tok_selected,
               CAST(coalesce(sel_fingerprint, 0) AS BIGINT) AS sel_fingerprint
        FROM s_in LEFT JOIN s_g USING (stratum) LEFT JOIN s_dd USING (stratum)
        LEFT JOIN alloc USING (stratum) LEFT JOIN s_sel USING (stratum)
        ORDER BY stratum"""),
      "pipeline — the MIXTURE BUILD (query #200): quality gate → exact " +
        "dedup → water-filling allocation across (source, lang) strata → " +
        "deterministic hash-ordered selection under each stratum's token " +
        "allocation, emitted as the per-stratum release manifest with an " +
        "order-independent selection fingerprint a consumer verifies the " +
        "shipped mixture against. Every stage corpus-linear or map-side-" +
        "combined; the only windows are partitioned (fp-dedup rank, " +
        "per-stratum running sum); the allocation table is strata-sized " +
        "and broadcasts — the capstone composition of p43/p05/p123/p41"),

    Q("p125_knn_eval",
      (s, d) => Similarity.knnEval(table(s, d, "embeddings"),
          col("vec_id"), col("embedding"), col("label"),
          evalPred = col("vec_id") % 5 === 0 && col("vec_id") < 2000, k = 5)
        .orderBy("true_label", "pred_label"),
      Some("""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        ev AS (SELECT vec_id AS eval_id, label AS true_label, e FROM v
               WHERE vec_id % 5 = 0 AND vec_id < 2000),
        tr AS (SELECT vec_id AS train_id, label AS train_label, e FROM v
               WHERE NOT (vec_id % 5 = 0 AND vec_id < 2000)),
        sc AS (SELECT eval_id, true_label, train_id, train_label,
                      round(list_cosine_similarity(ev.e, tr.e), 6) AS cos
               FROM ev CROSS JOIN tr),
        rk AS (SELECT *, row_number() OVER (PARTITION BY eval_id
                         ORDER BY cos DESC, train_id) AS rn FROM sc),
        vt AS (SELECT eval_id, true_label, train_label, count(*) AS n_votes
               FROM rk WHERE rn <= 5 GROUP BY 1, 2, 3),
        pd AS (SELECT eval_id, true_label, train_label AS pred_label,
                      row_number() OVER (PARTITION BY eval_id
                        ORDER BY n_votes DESC, train_label) AS rn
               FROM vt)
        SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
        FROM pd WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
      "similarity — in-engine kNN evaluation (the 'does this embedding " +
        "space separate my labels' release gate, next to p20's centroid " +
        "classifier and the p91/p94 recall audits): majority label of " +
        "the 5 nearest train vectors per eval vector, reported as the " +
        "confusion matrix. Majority ties break to the smaller label, " +
        "cosine ties to the smaller id — a pure function of the corpus, " +
        "so the accuracy number reproduces anywhere. Eval set bounded " +
        "by design (fixed key range — an eval set is an artifact, not " +
        "corpus-proportional), broadcast over one codegen train pass; " +
        "top-k and majority vote through the bounded-heap operator"),

    Q("p126_source_similarity_matrix",
      (s, d) => Sketch.minhashSimilarityMatrix(
          table(s, d, "documents")
            .select(col("source"), explode(TextOps.tokens(lower(col("text")))).as("t")),
          col("source"), col("t"), k = 64)
        .orderBy("source_a", "source_b"),
      Some(s"""
        WITH hs AS (SELECT DISTINCT source AS grp,
                           ('0x' || substring(md5(t), 1, 7))::BIGINT AS h
                    FROM (SELECT source, unnest(${sqlTokens("lower(text)")}) AS t
                          FROM documents)),
        bk AS (SELECT grp, h FROM (
                 SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
                 FROM hs) WHERE rn <= 64),
        gs AS (SELECT DISTINCT grp FROM hs),
        prs AS (SELECT a.grp AS ga, b.grp AS gb FROM gs a JOIN gs b ON a.grp < b.grp),
        ub AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
                 SELECT prs.ga, prs.gb, bk.h, 1 AS in_a, 0 AS in_b
                 FROM prs JOIN bk ON bk.grp = prs.ga
                 UNION ALL
                 SELECT prs.ga, prs.gb, bk.h, 0, 1
                 FROM prs JOIN bk ON bk.grp = prs.gb) GROUP BY 1, 2, 3),
        ur AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM ub),
        est AS (SELECT ga, gb, count(*) AS k_used, sum(in_a * in_b) AS n_shared
                FROM ur WHERE rn <= 64 GROUP BY 1, 2),
        uf AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
                 SELECT prs.ga, prs.gb, hs.h, 1 AS in_a, 0 AS in_b
                 FROM prs JOIN hs ON hs.grp = prs.ga
                 UNION ALL
                 SELECT prs.ga, prs.gb, hs.h, 0, 1
                 FROM prs JOIN hs ON hs.grp = prs.gb) GROUP BY 1, 2, 3),
        ex AS (SELECT ga, gb, sum(in_a * in_b) AS n_inter, count(*) AS n_union
               FROM uf GROUP BY 1, 2)
        SELECT est.ga AS source_a, est.gb AS source_b,
               CAST(k_used AS BIGINT) AS k_used,
               CAST(n_shared AS BIGINT) AS n_shared,
               CAST(n_shared * 1000 // k_used AS BIGINT) AS jacc_est_permille,
               CAST(n_inter AS BIGINT) AS n_inter,
               CAST(n_union AS BIGINT) AS n_union,
               CAST(n_inter * 1000 // n_union AS BIGINT) AS jacc_permille
        FROM est JOIN ex USING (ga, gb) ORDER BY source_a, source_b"""),
      "sketch — pairwise SOURCE-level Jaccard similarity matrix " +
        "(Broder single-hash MinHash: |bottom-k(A∪B) ∩ A ∩ B| / k) " +
        "beside the exact full-set Jaccard as the in-engine audit — the " +
        "corpus-governance view one level above per-document dedup: " +
        "which sources duplicate each other wholesale. At 100 TB only " +
        "the k-row per-source sketches cross the network (membership " +
        "trick: a union-bottom-k hash present in A is necessarily in " +
        "A's own bottom-k); the exact twin is the gate-scale audit"),

    Q("p127_quantile_normalization",
      (s, d) => Quality.quantileNormalize(table(s, d, "documents"),
          col("doc_id"), col("source"),
          size(TextOps.tokens(lower(col("text")))))
        .orderBy("source"),
      Some(s"""
        WITH b AS (SELECT doc_id, source,
                          CAST(len(${sqlTokens("lower(text)")}) AS BIGINT) AS score
                   FROM documents),
        rk AS (SELECT doc_id, source, score,
                      row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS r,
                      count(*) OVER (PARTITION BY source) AS n_src
               FROM b),
        rp AS (SELECT *, r * 1000 // n_src AS p FROM rk),
        h AS (SELECT score, count(*) AS cnt FROM b GROUP BY 1),
        c AS (SELECT score, sum(cnt) OVER (ORDER BY score) AS cum,
                     sum(cnt) OVER () AS n_total FROM h),
        ps AS (SELECT DISTINCT p FROM rp),
        lk AS (SELECT p, min(score) AS norm FROM ps, c
               WHERE cum * 1000 >= p * n_total GROUP BY p)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(norm) AS BIGINT) AS norm_sum,
               CAST(min(norm) AS BIGINT) AS norm_min,
               CAST(max(CASE WHEN r = (n_src + 1) // 2 THEN norm END) AS BIGINT) AS norm_med,
               CAST(max(norm) AS BIGINT) AS norm_max
        FROM rp JOIN lk USING (p) GROUP BY source ORDER BY source"""),
      "text analysis — cross-source QUANTILE NORMALIZATION of the " +
        "token-count score (distribution matching, one step past p105's " +
        "per-source thresholds): each doc's score maps to the global " +
        "score at its within-source permille, so one corpus-wide " +
        "threshold means the same thing for a verbose source and a " +
        "terse one. Global side is the p70 histogram method (value " +
        "histogram + bounded cumulative window — no corpus-wide sort); " +
        "the ≤1000-row permille lookup broadcasts; exact integers " +
        "throughout"),

    Q("p128_streaming_waterfill",
      (s, d) => {
        // incremental maintenance of p123's allocation — the mixture
        // plan stays current under ingest: per-wave token MASSES merge
        // into a strata-sized store by an associative sum, the water
        // level recomputes from the store in O(strata), and the
        // maintained allocation passes p123's oracle verbatim
        val dir = graft.core.TempStores.scratchDir("graft_p128_wf")
        val docs = table(s, d, "documents")
        def waveMasses(w: Int) = docs.filter(col("doc_id") % 3 === w)
          .groupBy(concat(col("source"), lit("/"), col("lang")).as("stratum"))
          .agg(sum(size(TextOps.tokens(lower(col("text"))))).cast("long").as("n"))
        Seq(0, 1, 2).foreach { w =>
          val delta = waveMasses(w)
          val merged =
            if (w == 0) delta
            else s.read.parquet(s"$dir/v${w - 1}").unionByName(delta)
              .groupBy("stratum").agg(sum("n").cast("long").as("n"))
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        Sampling.waterfillFromMasses(s.read.parquet(s"$dir/v2"),
            budgetNum = 3L, budgetDen = 5L)
          .orderBy("stratum")
      },
      Some(waterfillOracle), // maintained masses == one-shot: p123's oracle verbatim
      "streaming — water-filling allocation maintenance under " +
        "incremental ingest: per-wave token masses merge into the " +
        "strata-sized store by an associative long sum, the water level " +
        "recomputes from the store in O(strata) — the mixture PLAN " +
        "stays current per wave without rescanning the corpus, and the " +
        "maintained allocation passes p123's one-shot oracle verbatim. " +
        "The planning member of the incremental family (p71 counts, " +
        "p101 cardinality, p114 HLL, p117 sample, p88 clusters)"),

    Q("p129_vocab_coverage",
      (s, d) => {
        import s.implicits._
        // tokenizer-planning curve: how many vocabulary TYPES cover X
        // permille of corpus tokens. The frequency-of-frequencies trick
        // keeps everything bounded: vocab collapses to (freq, n_types)
        // classes, the cumulative walk orders CLASSES by freq desc, and
        // within a class the token curve is linear (each type adds
        // exactly freq tokens) so the boundary resolves in closed form
        val toks = table(s, d, "documents")
          .select(explode(TextOps.tokens(lower(col("text")))).as("t"))
        val ff = toks.groupBy("t").agg(count(lit(1)).as("freq"))
          .groupBy("freq").agg(count(lit(1)).as("n_types"))
        val W = org.apache.spark.sql.expressions.Window
        val prev = W.orderBy(col("freq").desc)
          .rowsBetween(W.unboundedPreceding, -1)
        val cum = ff.select(col("freq"), col("n_types"),
          coalesce(sum(col("n_types")).over(prev), lit(0L)).as("types_before"),
          coalesce(sum(col("freq") * col("n_types")).over(prev), lit(0L))
            .as("tokens_before"),
          sum(col("freq") * col("n_types")).over(W.partitionBy()).as("n_total"))
        val targets = Seq(500, 900, 950, 990).toDF("coverage_permille")
        targets.crossJoin(cum)
          .withColumn("target_tokens",
            expr("(coverage_permille * n_total + 999L) div 1000L"))
          .filter(col("tokens_before") + col("freq") * col("n_types")
            >= col("target_tokens"))
          .groupBy("coverage_permille", "target_tokens")
          .agg(min(struct(col("types_before"), col("freq"),
            col("tokens_before"))).as("b"))
          .select(col("coverage_permille"),
            col("target_tokens"),
            expr("b.types_before + (target_tokens - b.tokens_before + b.freq - 1L) div b.freq")
              .as("vocab_types_needed"),
            expr("b.tokens_before + ((target_tokens - b.tokens_before + b.freq - 1L) div b.freq) * b.freq")
              .as("tokens_covered"),
            col("b.freq").as("boundary_freq"))
          .orderBy("coverage_permille")
      },
      Some(s"""
        WITH toks AS (SELECT unnest(${sqlTokens("lower(text)")}) AS t FROM documents),
        v AS (SELECT t, count(*) AS freq FROM toks GROUP BY 1),
        ff AS (SELECT freq, count(*) AS n_types FROM v GROUP BY 1),
        c AS (SELECT freq, n_types,
                     CAST(coalesce(sum(n_types) OVER (ORDER BY freq DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS types_before,
                     CAST(coalesce(sum(freq * n_types) OVER (ORDER BY freq DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before,
                     CAST(sum(freq * n_types) OVER () AS BIGINT) AS n_total
              FROM ff),
        tg AS (SELECT CAST(unnest([500, 900, 950, 990]) AS INT) AS coverage_permille),
        j AS (SELECT tg.coverage_permille,
                     (tg.coverage_permille * c.n_total + 999) // 1000 AS target_tokens,
                     c.types_before, c.freq, c.tokens_before,
                     row_number() OVER (PARTITION BY tg.coverage_permille
                                        ORDER BY c.types_before) AS rn
              FROM tg CROSS JOIN c
              WHERE c.tokens_before + c.freq * c.n_types
                    >= (tg.coverage_permille * c.n_total + 999) // 1000)
        SELECT coverage_permille,
               CAST(target_tokens AS BIGINT) AS target_tokens,
               CAST(types_before + (target_tokens - tokens_before + freq - 1) // freq AS BIGINT) AS vocab_types_needed,
               CAST(tokens_before + ((target_tokens - tokens_before + freq - 1) // freq) * freq AS BIGINT) AS tokens_covered,
               CAST(freq AS BIGINT) AS boundary_freq
        FROM j WHERE rn = 1 ORDER BY coverage_permille"""),
      "corpus stats — vocabulary COVERAGE curve (how many types cover " +
        "500/900/950/990 permille of corpus tokens — the number that " +
        "sizes a tokenizer's vocab before training one): the frequency-" +
        "of-frequencies trick collapses the vocab to (freq, n_types) " +
        "classes, the cumulative walk runs over CLASSES (bounded by " +
        "distinct frequency values — hundreds, not vocab- or corpus-" +
        "sized), and the within-class token curve is linear so the " +
        "boundary resolves in closed integer form. Zipf in one query, " +
        "exact"),

    Q("p131_cdc_compaction",
      (s, d) => {
        // standing-corpus CDC: the documents table as a versioned change
        // feed — re-crawled docs (every 4th) arrive as v1 upserts,
        // takedowns (every 17th) as v2 tombstones, and a recrawl AFTER
        // takedown (every 34th) as a v3 upsert that resurrects the doc.
        // Compaction is one map-side-combined max_by aggregation per key
        // (no window, no sort, no join) and the aggregate is associative
        // + idempotent, so p132's wave-merged incremental store must
        // reproduce this byte for byte.
        val docs = table(s, d, "documents")
        Cdc.compact(cdcFeed(docs), col("doc_id"), col("version"), col("op"))
          .select(col("doc_id"), col("version"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id")
      },
      Some(cdcOracle),
      "pipeline ops — CDC compaction of a standing corpus (merge-into): " +
        "latest version wins, tombstone removes, later upsert resurrects " +
        "(takedown-then-recrawl). ONE hash aggregation on the key " +
        "(max_by over (version, tombstone-rank), map-side combined) — " +
        "no window, no global sort, no join; the shape that holds at a " +
        "100 TB corpus with a daily delta"),

    Q("p132_streaming_cdc",
      (s, d) => {
        // incremental twin: the feed arrives in three waves and the
        // standing snapshot is re-compacted as (previous snapshot ∪
        // delta) — compact is associative + idempotent, so the
        // maintained snapshot equals p131's one-shot compaction verbatim
        // (shared oracle). Each refresh touches the delta plus the
        // (already compacted, one-row-per-key) snapshot, never the full
        // feed history.
        val dir = graft.core.TempStores.scratchDir("graft_p132_cdc")
        val docs = table(s, d, "documents")
        val feed = cdcFeed(docs)
        Seq(0, 1, 2).foreach { w =>
          val delta = feed.filter(col("version") === w ||
            (col("version") === 3 && lit(w) === 2))
          // the stored snapshot KEEPS winning tombstones (dropping one
          // would let a late lower-version upsert resurrect a deleted
          // key); only the final read filters them
          val merged =
            if (w == 0) Cdc.compact(delta, col("doc_id"), col("version"), col("op"),
              keepTombstones = true)
            else Cdc.compact(
              s.read.parquet(s"$dir/v${w - 1}").unionByName(delta),
              col("doc_id"), col("version"), col("op"), keepTombstones = true)
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        s.read.parquet(s"$dir/v2")
          .filter(col("op") =!= "delete")
          .select(col("doc_id"), col("version"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id")
      },
      Some(cdcOracle),
      "pipeline ops — INCREMENTAL CDC maintenance: the p131 merge as a " +
        "wave-refreshed standing snapshot (previous snapshot ∪ delta → " +
        "recompact). Associativity + idempotence of the max_by " +
        "aggregate make the maintained snapshot identical to the " +
        "one-shot compaction — same oracle, the p101/p114 store pattern " +
        "applied to corpus mutation"),

    Q("p130_derived_lsh_endgame",
      (s, d) => {
        // the dedup endgame at the CORPUS-DERIVED config — blocking →
        // inline cosine verify → CC collapse, with (planes, tables)
        // read from the shared config-ledger artifact
        // (TpchGraph.derivedLshConfig: the same lshConfigFor derivation
        // embeddingNearDupsLsh's default path runs, now durable and
        // computed once per source fingerprint — before r13 this query
        // re-counted the corpus on every invocation, p112 on every
        // session, and the explicit output columns a third time). The
        // p22 family pins the legacy (4, 6) pair set as oracle history;
        // THIS query gates the derived-config path every new caller
        // gets, the one whose candidate mass stays linear in corpus
        // size (lshConfigFor holds expected bucket occupancy constant —
        // the sf2.0 rehearsal measured the fixed config at ×4 candidate
        // mass per corpus doubling, the derived one at ×2.5 and 7×
        // faster with identical output at the production threshold);
        // the zero-arg derive-inline default stays spec-covered
        // (DedupSpec). The derived config rides along as output columns
        // so the oracle's SQL re-derivation (p112's formulas)
        // cross-checks the Scala derivation by hash.
        val emb = table(s, d, "embeddings")
        val dim = TpchGraph.embeddingsDim(s, d)
        val (_, planes, tables) = TpchGraph.derivedLshConfig(s, d, DerivedLshGolden.MinCos)
        val pairs = Dedup.embeddingNearDupsLsh(emb, col("vec_id"), col("embedding"),
          minCos = DerivedLshGolden.MinCos, dim = dim,
          planesPerTable = planes, tables = tables)
        val comp = graft.plans.DfConnectedComponents.run(
          pairs.select(col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst")))
        comp.groupBy(col("component").cast("long").as("canonical_id"))
          .agg(count(lit(1)).cast("long").as("n_members"),
            (count(lit(1)) - 1).cast("long").as("n_dropped"))
          .withColumn("planes", lit(planes))
          .withColumn("tables", lit(tables))
          .orderBy("canonical_id")
      },
      Some(derivedLshEndgameOracle),
      "dedup — the near-dup endgame at the CORPUS-DERIVED sign-LSH " +
        "config (the operator default since the fixed (4, 6) shape was " +
        "measured quadratic-deferred): blocking at lshConfigFor's " +
        "occupancy-bounded shape, inline exact-cosine verify, CC " +
        "collapse to one keeper per cluster. The oracle re-derives the " +
        "config from count(*) in SQL and replays the seeded plane " +
        "constants spliced at Verify time (DerivedLshGolden), so both " +
        "the derivation and the pair set are hash-gated"),

    Q("p133_hybrid_rrf",
      (s, d) => {
        // hybrid retrieval: a lexical leg (BM25 over documents) and a
        // dense leg (cosine over the 1:1-aligned embeddings) fused by
        // reciprocal-rank fusion — the rank-based combiner that needs
        // no score calibration between legs. Both legs are top-20
        // bounded by their retrievers, so the fusion's rank windows and
        // full-outer join run over ≤ 20 rows each (the pinned
        // bounded-post-aggregate class); corpus-sized work lives
        // entirely inside the legs
        val docs = table(s, d, "documents")
        val emb = table(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        val lex = Corpus.bm25(docs, col("doc_id"), col("text"),
          terms = Seq("spark", "vector", "stream"), k1 = 1.2, b = 0.75, topK = 20)
        val dense = Similarity.cosineTopK(emb, col("vec_id"), col("embedding"),
          query, k = 20)
        Similarity.rrfFuse(Seq("bm25" -> lex, "dense" -> dense),
          rrfK = 60, topK = 10)
      },
      Some(s"""
        WITH lex AS (${bm25Oracle(Seq("spark", "vector", "stream"),
                                  k1 = 1.2, b = 0.75, topK = 20)}),
        den AS (
          SELECT vec_id AS id,
                 round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                    WHERE vec_id = 0)), 6) AS cos
          FROM embeddings ORDER BY cos DESC, id LIMIT 20),
        lr AS (SELECT doc_id AS id,
                      CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
                        AS rank_bm25 FROM lex),
        dr AS (SELECT id,
                      CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT)
                        AS rank_dense FROM den)
        SELECT coalesce(lr.id, dr.id) AS id, rank_bm25, rank_dense,
               round(coalesce(1.0 / (60 + rank_bm25), 0.0)
                     + coalesce(1.0 / (60 + rank_dense), 0.0), 6) AS rrf
        FROM lr FULL OUTER JOIN dr ON lr.id = dr.id
        ORDER BY rrf DESC, id LIMIT 10"""),
      "retrieval — HYBRID lexical+dense ranking via reciprocal-rank " +
        "fusion (1/(60+rank) per leg, summed in a fixed expression " +
        "tree so IEEE addition order is compile-time pinned and the " +
        "oracle replays it exactly). The missing third member of the " +
        "retrieval family next to BM25 (p27/p96) and dense ANN " +
        "(p09–p16): rank fusion needs no cross-leg score calibration, " +
        "which is why production RAG stacks default to it"),

    Q("p134_matryoshka_recall",
      (s, d) => {
        // matryoshka-truncation audit: how much exact-top-k recall
        // survives truncating embeddings to their 16-dim prefix
        // (cosine renormalizes, so truncate-and-renormalize is just
        // cosine over the slice). The 4× cheaper scan+store is the
        // production first-stage at 100 TB — this query measures, not
        // guesses, what that costs in recall, the same in-engine audit
        // posture as p91/p94. Both paths are deterministic (rounded
        // cosines, id tie-breaks) so recall is an exact integer.
        val emb = table(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 3)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        val full = Similarity.cosineTopK(emb, col("vec_id"), col("embedding"),
          query, k = 10).select(col("id"))
        val trunc = Similarity.cosineTopK(emb, col("vec_id"),
          slice(col("embedding"), 1, 16), query.take(16), k = 10).select(col("id"))
        full.join(trunc, "id")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(64).as("d_full"), lit(16).as("d_trunc"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
      },
      Some("""
        WITH fulltk AS (
          SELECT vec_id AS id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = 3)), 6) AS cos
            FROM embeddings) ORDER BY cos DESC, id LIMIT 10),
        trunctk AS (
          SELECT vec_id AS id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity((CAST(embedding AS DOUBLE[]))[1:16],
                     (SELECT (CAST(embedding AS DOUBLE[]))[1:16] FROM embeddings
                      WHERE vec_id = 3)), 6) AS cos
            FROM embeddings) ORDER BY cos DESC, id LIMIT 10)
        SELECT CAST(64 AS INT) AS d_full, CAST(16 AS INT) AS d_trunc,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(*) * 100000 AS BIGINT) AS recall_micro
        FROM fulltk JOIN trunctk USING (id)"""),
      "similarity — matryoshka-truncation recall audit: exact top-10 " +
        "over the 16-dim embedding prefix vs the full 64 dims, recall " +
        "as an exact integer. The in-engine measurement behind the " +
        "standard 100 TB two-stage ANN layout (truncated prefix store " +
        "for candidate generation, full vectors only for re-ranking)"),

    Q("p135_quantized_recall",
      (s, d) => {
        // int8-index recall audit: candidate generation by the INTEGER
        // dot product of p31's scalar-quantized codes (query encoded
        // driver-side with the bit-identical twin of the executor
        // formula) vs the exact-cosine top-10. Completes the two-stage
        // audit family next to p134's matryoshka truncation: p134
        // measures what the narrow store costs, this measures what the
        // 4x-smaller int8 store costs. Integer scores make the
        // quantized ranking exact on every engine; the overlap count is
        // an exact integer.
        val emb = table(s, d, "embeddings")
        val bounds = Clustering.dimMinMax(emb, col("embedding"))
        val query = emb.filter(col("vec_id") === 5)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        val qCodes = Clustering.quantizeVector(query, bounds)
        val quant = Clustering.quantizedDotTopK(emb, col("vec_id"),
          col("embedding"), bounds, qCodes, k = 10).select("id")
        val full = Similarity.cosineTopK(emb, col("vec_id"), col("embedding"),
          query, k = 10).select("id")
        full.join(quant, "id")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(8).as("quant_bits"), lit(10).as("k"), col("n_hits"),
            (col("n_hits") * 100000L).as("recall_micro"))
      },
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        x AS (SELECT vec_id, u.i - 1 AS pos, u.v AS val
              FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(e)),
                           i -> {'i': i, 'v': e[i]})) AS u FROM v)),
        b AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM x GROUP BY 1),
        c AS (SELECT vec_id, x.pos,
                     CASE WHEN mx > mn
                          THEN CAST(floor(round((val - mn) * (255.0 / (mx - mn)), 6) + 0.5) AS BIGINT)
                          ELSE 0 END AS code
              FROM x JOIN b USING (pos)),
        qc AS (SELECT pos, code AS qcode FROM c WHERE vec_id = 5),
        qd AS (SELECT c.vec_id AS id, CAST(sum(c.code * qc.qcode) AS BIGINT) AS qdot
               FROM c JOIN qc USING (pos) GROUP BY 1),
        quanttk AS (SELECT id FROM qd ORDER BY qdot DESC, id LIMIT 10),
        fulltk AS (SELECT vec_id AS id FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = 5)), 6) AS cos
            FROM embeddings) ORDER BY cos DESC, id LIMIT 10)
        SELECT CAST(8 AS INT) AS quant_bits, CAST(10 AS INT) AS k,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(*) * 100000 AS BIGINT) AS recall_micro
        FROM fulltk JOIN quanttk USING (id)"""),
      "similarity — int8-quantized-search recall audit: top-10 by the " +
        "INTEGER code dot product over p31's scalar-quantized store vs " +
        "the exact-cosine top-10, overlap as an exact integer. With " +
        "p134 this completes the two-stage ANN audit family: what the " +
        "4x-smaller quantized store costs in first-stage recall, " +
        "measured in-engine rather than assumed"),

    Q("p136_tokenizer_fertility",
      (s, d) => {
        // tokenizer fertility per language — the budget planner's table:
        // subwords-per-word and bytes-per-subword decide how many
        // TRAINING tokens a 100 TB multilingual corpus actually yields
        // per language (fertility >> 1 means the tokenizer fragments
        // that language; bytes/subword prices storage against budget).
        // One map-side pass (token counts are codegen expressions) +
        // one partial-aggregated rollup per lang; ratios computed on
        // the k-row aggregate
        val docs = table(s, d, "documents")
        docs.select(col("lang"),
            octet_length(col("text")).as("b"),
            TextOps.tokenCount(col("text")).as("t"),
            TextOps.subwordCountApprox(col("text")).as("sw"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("b").cast("long")).as("n_bytes"),
            sum(col("t").cast("long")).as("n_tokens"),
            sum(col("sw").cast("long")).as("n_subwords"))
          .select(col("lang"), col("n_docs"), col("n_bytes"), col("n_tokens"),
            col("n_subwords"),
            when(col("n_tokens") > 0,
              round(col("n_subwords") * lit(1e6) / col("n_tokens")).cast("long"))
              .otherwise(0L).as("fertility_micro"),
            when(col("n_subwords") > 0,
              round(col("n_bytes") * lit(1e6) / col("n_subwords")).cast("long"))
              .otherwise(0L).as("bytes_per_subword_micro"))
          .orderBy("lang")
      },
      Some(s"""
        WITH per AS (
          SELECT lang, strlen(text) AS b,
                 len(${sqlTokens("text")}) AS t,
                 length(regexp_replace(text, '[A-Za-z0-9]+', chr(1), 'g'))
                   - length(replace(regexp_replace(text, '[A-Za-z0-9]+', chr(1), 'g'), chr(1), ''))
                   + length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS sw
          FROM documents),
        agg AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(b) AS BIGINT) AS n_bytes,
                 CAST(sum(t) AS BIGINT) AS n_tokens,
                 CAST(sum(sw) AS BIGINT) AS n_subwords
          FROM per GROUP BY 1)
        SELECT lang, n_docs, n_bytes, n_tokens, n_subwords,
               CASE WHEN n_tokens > 0
                    THEN CAST(round(n_subwords * 1000000.0 / n_tokens) AS BIGINT)
                    ELSE 0 END AS fertility_micro,
               CASE WHEN n_subwords > 0
                    THEN CAST(round(n_bytes * 1000000.0 / n_subwords) AS BIGINT)
                    ELSE 0 END AS bytes_per_subword_micro
        FROM agg ORDER BY lang"""),
      "text analysis — tokenizer fertility audit per language: docs, " +
        "UTF-8 bytes, whitespace words, BPE-ish subwords, and the two " +
        "budget ratios (subwords-per-word, bytes-per-subword, in micro " +
        "units) that convert a multilingual corpus size into actual " +
        "training tokens. Map-side token counts + one per-lang rollup; " +
        "ratios computed on the k-row aggregate"),

    Q("p137_time_travel",
      (s, d) => {
        // the corpus's version history in ONE aggregation: what did the
        // standing corpus look like AT EVERY version (Delta/Iceberg
        // read-as-of semantics)? Each change row is a winner candidate
        // for exactly the snapshots as_of >= version, so the feed
        // explodes by the VERSION count (4 here — never key- or
        // corpus-sized) and one map-side-combined max_by per
        // (as_of, key) picks all snapshots' winners simultaneously —
        // instead of one full compaction per audited version
        val docs = table(s, d, "documents")
        graft.pipeline.Cdc.snapshotAll(cdcFeed(docs),
            col("doc_id"), col("version"), col("op"), maxVersion = 3)
          .groupBy("as_of")
          .agg(count(lit(1)).as("n_live"),
            sum(col("version")).as("version_mass"),
            sum(length(col("text")).cast("long")).as("n_chars_total"))
          .orderBy("as_of")
      },
      Some("""
        WITH feed AS (
          SELECT doc_id, text, 0 AS version, 'upsert' AS op FROM documents
          UNION ALL
          SELECT doc_id, text || ' [recrawl]', 1, 'upsert' FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id, '', 2, 'delete' FROM documents WHERE doc_id % 17 = 0
          UNION ALL
          SELECT doc_id, text || ' [restored]', 3, 'upsert' FROM documents WHERE doc_id % 34 = 0),
        x AS (SELECT f.*, a.as_of
              FROM feed f JOIN (SELECT unnest(generate_series(0, 3)) AS as_of) a
                ON a.as_of >= f.version),
        r AS (SELECT *, row_number() OVER (PARTITION BY as_of, doc_id
                ORDER BY version DESC,
                         CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC) AS rn
              FROM x)
        SELECT CAST(as_of AS BIGINT) AS as_of,
               CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(version) AS BIGINT) AS version_mass,
               CAST(sum(length(text)) AS BIGINT) AS n_chars_total
        FROM r WHERE rn = 1 AND op <> 'delete'
        GROUP BY 1 ORDER BY 1"""),
      "pipeline ops — TIME TRAVEL over the p131 CDC corpus: the " +
        "standing snapshot at EVERY version (read-as-of semantics) in " +
        "one aggregation — each change row explodes to the snapshots " +
        "it is a candidate for (bounded by the version count, never " +
        "corpus-sized) and one map-side-combined max_by per " +
        "(as_of, key) picks all winners simultaneously. The 4-row " +
        "history (n_live, version_mass, n_chars_total) pins the full " +
        "recrawl/takedown/restore arc as exact integers"),

    Q("p138_context_packing",
      (s, d) => {
        // RAG prompt assembly: p96's chunk retrieval feeds a greedy
        // token-budget packer — keep chunks in score order while the
        // running prompt length fits 256 tokens (take-while: lengths
        // are positive, so prefix sums are monotone and the fitting
        // set IS a prefix). The packing window runs over the top-20
        // hits only; corpus-sized work lives in the retriever
        val hits = Corpus.bm25Chunks(table(s, d, "documents"),
          col("doc_id"), col("text"),
          terms = Seq("spark", "vector", "stream"),
          chunkLen = 32, stride = 32, topK = 20, withLen = true)
        Corpus.packContext(hits, col("bm25"),
            Seq(col("doc_id"), col("chunk_id")), col("len"), budget = 256)
          .select(col("doc_id"), col("chunk_id"), col("len").as("n_tokens"),
            col("bm25"), col("cum_tokens"))
      },
      Some(s"""
        WITH hits AS (${bm25ChunksOracle(Seq("spark", "vector", "stream"),
                                         chunkLen = 32, stride = 32, k1 = 1.2,
                                         b = 0.75, topK = 20, withLen = true)}),
        packed AS (
          SELECT doc_id, chunk_id, len, bm25,
                 CAST(sum(len) OVER (ORDER BY bm25 DESC, doc_id, chunk_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens
          FROM hits)
        SELECT doc_id, chunk_id, CAST(len AS INT) AS n_tokens, bm25, cum_tokens
        FROM packed WHERE cum_tokens <= 256
        ORDER BY bm25 DESC, doc_id, chunk_id"""),
      "retrieval — RAG context packing: greedy token-budget prompt " +
        "assembly over p96's chunk hits (keep chunks in score order " +
        "while the running length fits the 256-token budget; positive " +
        "lengths make prefix sums monotone, so take-while is a plain " +
        "cumulative-sum filter). The packing window is bounded by the " +
        "retriever's top-k; cum_tokens pins the assembled prompt " +
        "length after each kept chunk"),

    Q("p139_session_window_builtin",
      (s, d) => EventStream.sessionizeBuiltin(table(s, d, "events"), gapMinutes = 30),
      Some(sessionizeOracle),
      "streaming — sessionization on Spark's BUILT-IN session_window " +
        "(the native operator form, identical under a streaming " +
        "watermark): same gap rule as p14 including the boundary " +
        "(touching windows merge — EventStreamSpec pins it), so the " +
        "two share one oracle. The scale argument for the native form: " +
        "session assignment is ONE aggregation, not a lag window plus " +
        "a running-sum window over the full event stream"),

    Q("p140_join_cardinality",
      (s, d) => {
        // the optimizer's pre-shuffle cardinality probe: estimate the
        // l_partkey SELF-join size (the F2 moment Σc² — the exact skew
        // statistic p102/p103's salting thresholds derive from) from a
        // fixed-size CMS instead of running the join. Both engines
        // rebuild the 4x2048 counter matrix from the same 8 splitmix
        // constants; estimate = min over rows of the bucketwise counter
        // dot product, always >= exact, integer throughout
        val li = table(s, d, "lineitem")
          .select(col("l_partkey").cast("string").as("k"))
        val cms = Sketch.countMin(li, col("k"), depth = 4, width = 2048)
        val est = Sketch.cmsJoinSize(cms, cms)
        val exact = li.groupBy("k").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).as("exact_sj"))
        exact.crossJoin(est)
          .select(lit(4).as("depth"), lit(2048).as("width"),
            col("exact_sj").cast("long").as("exact_sj"),
            col("join_size_est").cast("long").as("cms_est"),
            expr("CAST((join_size_est - exact_sj) * 1000000 DIV exact_sj AS BIGINT)")
              .as("over_ppm"))
      },
      Some {
        val ps = graft.functions.Dedup.permutationParams(4, 42L)
        val branches = ps.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT $i AS row, (($a * h + $b) % 2147483647) % 2048 AS bucket FROM occ"
        }.mkString(" UNION ALL ")
        s"""
        WITH occ AS (SELECT ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 7))::BIGINT AS h
                     FROM lineitem),
        counters AS (SELECT row, bucket, count(*) AS cnt
                     FROM ($branches) GROUP BY 1, 2),
        ip AS (SELECT row, sum(cnt * cnt) AS ip FROM counters GROUP BY 1),
        est AS (SELECT min(ip) AS cms_est FROM ip),
        ex AS (SELECT sum(c * c) AS exact_sj FROM (
                 SELECT count(*) AS c FROM lineitem GROUP BY l_partkey))
        SELECT CAST(4 AS INT) AS depth, CAST(2048 AS INT) AS width,
               CAST(exact_sj AS BIGINT) AS exact_sj,
               CAST(cms_est AS BIGINT) AS cms_est,
               CAST((cms_est - exact_sj) * 1000000 // exact_sj AS BIGINT) AS over_ppm
        FROM ex CROSS JOIN est"""
      },
      "sketch — JOIN-SIZE estimation by CMS inner product (Cormode-" +
        "Muthukrishnan): the l_partkey self-join size (the F2 moment " +
        "Σc², the statistic salting thresholds derive from) estimated " +
        "as min over rows of the bucketwise counter dot product — " +
        "always >= exact, within e/width · N². Estimating a 100 TB " +
        "join costs two sketch passes + a constant-size combine, no " +
        "join runs; exact twin beside it, overestimate in ppm"),

    Q("p141_mixture_epochs",
      (s, d) => Sampling.mixtureEpochs(table(s, d, "documents"),
          col("lang"), size(TextOps.tokens(lower(col("text")))))
        .orderBy("stratum"),
      Some(mixtureEpochsOracle),
      "sampling — mixture EPOCH planning under temperature sampling " +
        "(p_i ∝ n_i^α, α = 1/2): how many times each language " +
        "REPEATS when the full budget B = Σn is drawn at these " +
        "weights — the cycling number a mixture plan is judged by, " +
        "which p57's probability table does not produce. α = 1/2 " +
        "buys exactness: one correctly-rounded IEEE sqrt corrected " +
        "to the true INTEGER sqrt by a neighbor check, then pure " +
        "integer arithmetic (round-half-up (2a+b) div 2b; the one " +
        "long-outgrowing product widened to decimal38/HUGEINT), so " +
        "every output lands on identical integers on both engines " +
        "where p57's general-α pow rounds to a float grid. One " +
        "corpus pass + k-row math; epochs_micro > 10⁶ = repeat signal"),

    Q("p142_sequence_packing",
      (s, d) => Corpus.sequencePacking(table(s, d, "documents"),
          col("doc_id"), size(TextOps.tokens(lower(col("text")))),
          seqLen = 256, shards = 8)
        .orderBy("shard"),
      Some(s"""
        WITH d AS (SELECT doc_id,
                          CAST(len(${sqlTokens("lower(text)")}) AS BIGINT) AS t,
                          md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
                   FROM documents),
        b AS (SELECT doc_id, t, h,
                     CAST(('0x' || substring(h, 1, 7))::BIGINT % 8 AS INT) AS shard
              FROM d WHERE t > 0),
        st AS (SELECT shard, t,
                 coalesce(sum(t) OVER (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
               FROM b)
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(t) AS BIGINT) AS n_tokens,
               CAST((sum(t) + 255) // 256 AS BIGINT) AS n_seqs,
               CAST(sum(CASE WHEN (cb + t - 1) // 256 > cb // 256
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
               CAST(sum(t) % 256 AS BIGINT) AS tail_fill
        FROM st GROUP BY 1 ORDER BY 1"""),
      "corpus — training SEQUENCE-PACKING audit (the pretraining last " +
        "mile): docs dealt to 8 shards by salted hash, hash-shuffled " +
        "within shard (the deterministic epoch order), concatenated " +
        "and cut every 256 tokens (GPT concat-and-chunk). Per shard: " +
        "sequence count, documents straddling a cut (the attention-" +
        "contamination cost packing is judged by), tail fill. The " +
        "cumulative sum windows PER SHARD — exactly how a parallel " +
        "packer writes shards, no global window over the corpus; " +
        "order and cuts are pure md5 functions so retries and other " +
        "engines reproduce the packing bit for bit"),

    Q("p143_quality_keeper",
      (s, d) => {
        // curation KEEPER POLICY: the p32 clusters (shared LSH pair set
        // + CC), but the kept document is the argmax-QUALITY member,
        // not the min id — the rule a production dedup actually
        // applies (p32's min-id canonical stays the cluster NAME; which
        // member survives is a policy choice, decided here by integer
        // stopword density with id tie-break)
        val pairs = TpchGraph.lshPairs(s, d)
          .select(col("id_a").cast("long").as("src"),
            col("id_b").cast("long").as("dst"))
        val comp = graft.plans.DfConnectedComponents.run(pairs)
        val qc = graft.functions.expressions.QualityCounts
          .qualityCountsCol(col("text"), TextOps.defaultStopwords)
        val q = table(s, d, "documents")
          .select(col("doc_id").cast("long").as("id"),
            qc.getField("n_stop").cast("long").as("nstop"),
            qc.getField("n_tokens").cast("long").as("ntok"))
          .withColumn("q_micro", expr("nstop * 1000000 div greatest(ntok, 1)"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("component").orderBy(col("q_micro").desc, col("id"))
        // r16: hash-build the CC-membership side, never the corpus-scale
        // quality side — the hinted side of a SHUFFLE_HASH join is the
        // build side and AQE respects it, so the p118 mis-broadcast
        // class stays closed while the per-doc quality side streams
        // without the r15 merge pin's sort (guide §3.1). Per-partition
        // memory contract (ADVICE r16): build = |cluster members| /
        // shuffle-width rows per task, width scales with the deployment
        // — see the p167 note for the full argument.
        comp.hint("shuffle_hash").join(q, "id")
          .withColumn("rn", row_number().over(w))
          .groupBy(col("component").as("canonical_id"))
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rn") === 1, col("id"))).as("keeper_id"),
            max(when(col("rn") === 1, col("q_micro"))).as("keeper_q_micro"))
          .orderBy("canonical_id")
      },
      Some(s"""
        WITH RECURSIVE $lshPairCtes,
        pairs AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.4),
        edges AS (SELECT id_a AS s, id_b AS t FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
        q AS (SELECT doc_id AS id,
                CAST(CAST(len(list_filter(${sqlTokens("lower(text)")},
                       x -> x IN ('the','a','an','of','and','or','to','in','is','it')))
                     AS BIGINT) * 1000000
                  // greatest(CAST(len(${sqlTokens("text")}) AS BIGINT), 1)
                  AS BIGINT) AS q_micro
              FROM documents),
        rk AS (SELECT c.id, c.component, q.q_micro,
                 row_number() OVER (PARTITION BY c.component
                                    ORDER BY q.q_micro DESC, c.id) AS rn
               FROM comp c JOIN q ON q.id = c.id)
        SELECT CAST(component AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(max(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS keeper_id,
               CAST(max(CASE WHEN rn = 1 THEN q_micro END) AS BIGINT) AS keeper_q_micro
        FROM rk GROUP BY 1 ORDER BY 1"""),
      "dedup — quality-aware KEEPER selection on the p32 near-dup " +
        "clusters: which member survives the collapse is a POLICY, " +
        "and production pipelines keep the best document, not the " +
        "smallest id. Same shared LSH pair set + CC (no new heavy " +
        "work); keeper = argmax integer stopword density (the p02 " +
        "signal on a 10⁻⁶ grid, id tie-break) via a per-cluster " +
        "window — partitioned by cluster, so no global sort at any " +
        "corpus size"),

    Q("p144_span_corruption",
      (s, d) => Corpus.spanCorruption(table(s, d, "documents"),
          col("doc_id"), size(TextOps.tokens(lower(col("text")))))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(s"""
        WITH d AS (SELECT doc_id,
                          CAST(len(${sqlTokens("lower(text)")}) AS INT) AS n
                   FROM documents),
        pos AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS p
                FROM d WHERE n > 0),
        seeds AS (SELECT doc_id, n, p FROM pos
                  WHERE ('0x' || substring(md5('span:' || CAST(doc_id AS VARCHAR)
                          || ':' || CAST(p AS VARCHAR)), 1, 7))::BIGINT < 33554432),
        corr AS (SELECT DISTINCT doc_id, q FROM (
                   SELECT doc_id, unnest(generate_series(p, least(p + 2, n - 1))) AS q
                   FROM seeds)),
        spans AS (SELECT c.doc_id, count(*) AS n_spans
                  FROM corr c LEFT JOIN corr c2
                    ON c2.doc_id = c.doc_id AND c2.q = c.q - 1
                  WHERE c2.q IS NULL GROUP BY 1),
        cagg AS (SELECT doc_id, count(*) AS n_corrupted FROM corr GROUP BY 1),
        sagg AS (SELECT doc_id, count(*) AS n_seeds FROM seeds GROUP BY 1)
        SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_tokens,
               CAST(coalesce(sagg.n_seeds, 0) AS BIGINT) AS n_seeds,
               CAST(coalesce(cagg.n_corrupted, 0) AS BIGINT) AS n_corrupted,
               CAST(coalesce(spans.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(d.n - coalesce(cagg.n_corrupted, 0)
                    + coalesce(spans.n_spans, 0) AS BIGINT) AS input_len,
               CAST(coalesce(cagg.n_corrupted, 0)
                    + coalesce(spans.n_spans, 0) AS BIGINT) AS target_len
        FROM d LEFT JOIN sagg USING (doc_id) LEFT JOIN cagg USING (doc_id)
               LEFT JOIN spans USING (doc_id)
        ORDER BY d.doc_id"""),
      "corpus — T5-style SPAN-CORRUPTION planning stats (the " +
        "denoising-objective data prep): hash-seeded span starts at " +
        "1/8 of token positions (INTEGER 28-bit md5 compare, no float " +
        "rate), 3-token spans, overlaps merged, each maximal run = one " +
        "sentinel; per doc the seed/corrupted/span counts and the " +
        "encoder/decoder lengths a batch-shape planner needs. Zero " +
        "shuffle — the noise mask is per-row array expressions " +
        "(sequence/filter/flatten/distinct), nothing explodes; " +
        "membership is a pure function of (doc, pos) so any engine " +
        "replays the exact mask"),

    Q("p145_streaming_mixture_epochs",
      (s, d) => {
        // incremental maintenance of p141's epoch plan — the repeat
        // counts stay current under ingest: per-wave token MASSES merge
        // into a strata-sized store by an associative sum, the mixture
        // math recomputes from the store in O(strata), and the
        // maintained plan passes p141's one-shot oracle verbatim
        val dir = graft.core.TempStores.scratchDir("graft_p145_me")
        val docs = table(s, d, "documents")
        def waveMasses(w: Int) = docs.filter(col("doc_id") % 3 === w)
          .groupBy(col("lang").as("stratum"))
          .agg(sum(size(TextOps.tokens(lower(col("text"))))).cast("long").as("n"))
        Seq(0, 1, 2).foreach { w =>
          val delta = waveMasses(w)
          val merged =
            if (w == 0) delta
            else s.read.parquet(s"$dir/v${w - 1}").unionByName(delta)
              .groupBy("stratum").agg(sum("n").cast("long").as("n"))
          merged.write.mode("overwrite").parquet(s"$dir/v$w")
        }
        Sampling.mixtureEpochsFromMasses(s.read.parquet(s"$dir/v2"))
          .orderBy("stratum")
      },
      Some(mixtureEpochsOracle), // maintained masses == one-shot: p141's oracle
      "streaming — mixture-EPOCH plan maintenance under incremental " +
        "ingest: per-wave token masses merge into the strata-sized " +
        "store by an associative long sum, the integer-exact α = 1/2 " +
        "mixture math recomputes from the store in O(strata) — the " +
        "repeat-count plan stays current per wave without rescanning " +
        "the corpus, and the maintained plan passes p141's one-shot " +
        "oracle verbatim. Joins p128 in the incremental-planning " +
        "family (p71 counts, p101 cardinality, p114 HLL, p117 sample)"),

    Q("p146_bootstrap_variance",
      (s, d) => Sampling.bootstrapReplicates(table(s, d, "documents"),
          col("doc_id"), size(TextOps.tokens(lower(col("text")))), k = 16)
        .orderBy("replicate"),
      Some(s"""
        WITH d AS (SELECT doc_id AS id,
                          CAST(len(${sqlTokens("lower(text)")}) AS BIGINT) AS t
                   FROM documents),
        e AS (SELECT id, t, unnest(generate_series(0, 15)) AS r FROM d),
        u AS (SELECT r, t,
                ('0x' || substring(md5('boot:' || CAST(r AS VARCHAR) || ':'
                  || CAST(id AS VARCHAR)), 1, 7))::BIGINT AS u
              FROM e),
        w AS (SELECT r, t,
                (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END)
                + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
                + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END)
                + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
                + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END)
                + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END) AS w
              FROM u),
        reps AS (SELECT r, CAST(sum(w) AS BIGINT) AS docs_eff,
                        CAST(sum(w * t) AS BIGINT) AS tokens_eff
                 FROM w GROUP BY 1),
        sse AS (SELECT
                  CAST(16 * sum(CAST(docs_eff AS HUGEINT) * docs_eff)
                    - CAST(sum(docs_eff) AS HUGEINT) * CAST(sum(docs_eff) AS HUGEINT)
                    AS BIGINT) AS ssd,
                  CAST(16 * sum(CAST(tokens_eff AS HUGEINT) * tokens_eff)
                    - CAST(sum(tokens_eff) AS HUGEINT) * CAST(sum(tokens_eff) AS HUGEINT)
                    AS BIGINT) AS sst
                FROM reps)
        SELECT r AS replicate, docs_eff, tokens_eff,
               ssd AS sse_scaled_docs, sst AS sse_scaled_tokens
        FROM reps CROSS JOIN sse ORDER BY replicate"""),
      "sampling — deterministic POISSON BOOTSTRAP error bars on corpus " +
        "statistics (Chamandy et al.: the one-pass bootstrap at web " +
        "scale): 16 replicates weight every doc by a Poisson(1) draw — " +
        "the inverse CDF applied to the 28-bit md5 of (replicate, id) " +
        "via six LITERAL integer thresholds, no floats — and the " +
        "replicate totals' spread is the sampling variance, emitted as " +
        "the exact scaled numerator k·ΣX² − (ΣX)² in decimal38/" +
        "HUGEINT. One corpus pass, ×16 map-side expansion combining " +
        "straight down to 16 groups — the shuffle carries 16 rows per " +
        "partition at any corpus size"),

    Q("p147_length_buckets",
      (s, d) => Corpus.lengthBuckets(table(s, d, "documents"),
          col("doc_id"), size(TextOps.tokens(lower(col("text")))))
        .orderBy("bucket"),
      Some(s"""
        WITH d AS (SELECT doc_id,
                          CAST(len(${sqlTokens("lower(text)")}) AS BIGINT) AS t
                   FROM documents),
        b AS (SELECT t,
                CASE WHEN t < 16 THEN 0 WHEN t < 32 THEN 1 WHEN t < 64 THEN 2
                     WHEN t < 128 THEN 3 WHEN t < 256 THEN 4 WHEN t < 512 THEN 5
                     WHEN t < 1024 THEN 6 ELSE 7 END AS bucket
              FROM d),
        per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(t) AS BIGINT) AS n_tokens,
                       CAST(max(t) AS BIGINT) AS max_tokens
                FROM b GROUP BY 1),
        per2 AS (SELECT *, n_docs * max_tokens AS padded_tokens FROM per),
        per3 AS (SELECT *,
                   CASE WHEN padded_tokens > 0
                        THEN (2 * (padded_tokens - n_tokens) * 1000000 + padded_tokens)
                             // (2 * padded_tokens)
                        ELSE 0 END AS waste_ppm
                 FROM per2),
        g AS (SELECT CAST(sum(n_docs) * max(max_tokens) AS BIGINT) AS global_padded,
                     CAST(sum(n_tokens) AS BIGINT) AS gt
              FROM per3),
        g2 AS (SELECT global_padded,
                 CASE WHEN global_padded > 0
                      THEN (2 * (global_padded - gt) * 1000000 + global_padded)
                           // (2 * global_padded)
                      ELSE 0 END AS global_waste_ppm
               FROM g)
        SELECT bucket, n_docs, n_tokens, max_tokens, padded_tokens,
               CAST(waste_ppm AS BIGINT) AS waste_ppm,
               global_padded, CAST(global_waste_ppm AS BIGINT) AS global_waste_ppm
        FROM per3 CROSS JOIN g2 ORDER BY bucket"""),
      "corpus — LENGTH-BUCKETED padding-efficiency audit (the dynamic-" +
        "batching planner; p142 concatenates for pretraining, this " +
        "prices the PADDING of variable-length fine-tuning/serving " +
        "batches): power-of-two length bands with INTEGER literal " +
        "edges (a float log2 would knife-edge the boundaries), per-" +
        "bucket padded cost n_docs·max and round-half-up ppm waste, " +
        "beside the unbucketed global cost — the number that " +
        "justifies length bucketing in every serving stack. One " +
        "map-side bucket assignment + k-row aggregates"),

    Q("p148_bpe_train",
      (s, d) => Corpus.bpeTrainRounds(table(s, d, "documents"),
        col("text"), rounds = 3),
      Some(bpeTrainOracle(rounds = 3)),
      "tokenization — the iterative BPE MERGE-TRAINING loop (the " +
        "missing link between p54's candidate counts and p109's " +
        "encode): per round, pair counts weighted by word frequency, " +
        "argmax merge adopted (count desc then pair — deterministic " +
        "tie-break), applied greedy-leftmost non-overlapping BEFORE " +
        "recounting. The apply is fully relational — match positions " +
        "form gaps-and-islands, greedy leftmost = odd ranks within " +
        "each run — with every window partitioned per vocab WORD: the " +
        "corpus collapses to (word, freq) before a character explodes, " +
        "so all three rounds are vocab-sized at any corpus scale. " +
        "Output = the learned merge table with the weighted symbol " +
        "count after each merge, exact integers"),

    Q("p149_rendezvous_shards",
      (s, d) => Sampling.rendezvousAudit(table(s, d, "documents"),
        col("doc_id"), size(TextOps.tokens(lower(col("text")))), shards = 8),
      Some(s"""
        WITH d AS (
          SELECT doc_id, len(${sqlTokens("lower(text)")}) AS n_tokens,
                 unnest(generate_series(0, 8)) AS s
          FROM documents),
        sc AS (
          SELECT doc_id, n_tokens, s,
                 ('0x' || substring(md5('rv:' || CAST(s AS VARCHAR) || ':'
                    || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
          FROM d),
        rk AS (
          SELECT doc_id, n_tokens, s,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY h DESC, s) AS rk_all,
                 row_number() OVER (PARTITION BY doc_id, (s < 8)
                   ORDER BY h DESC, s) AS rk_grp
          FROM sc),
        a AS (
          SELECT doc_id, any_value(n_tokens) AS n_tokens,
                 CAST(min(CASE WHEN s < 8 AND rk_grp = 1 THEN s END) AS INT) AS shard,
                 CAST(min(CASE WHEN rk_all = 1 THEN s END) AS INT) AS shard_after
          FROM rk GROUP BY doc_id)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(CASE WHEN shard_after <> shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
               CAST(sum(CASE WHEN shard_after <> shard THEN n_tokens ELSE 0 END) AS BIGINT) AS moved_tokens,
               CAST(max(CASE WHEN shard_after <> shard THEN shard_after END) AS INT) AS moved_to
        FROM a GROUP BY 1 ORDER BY 1"""),
      "curation — rendezvous (highest-random-weight) shard placement " +
        "with the reshard-stability audit p83's mod placement cannot " +
        "give: growing 8 shards to 9 moves only the docs whose NEW " +
        "candidate hash wins (expected 1/9 of the corpus), every one " +
        "into the new shard — the audit computes both assignments in " +
        "one map-side pass (N+1 md5 scores per doc, argmax read off a " +
        "prefix vs the full array) and reports per-shard doc/token " +
        "mass, the mass that moves, and moved_to (structurally always " +
        "the new shard — the invariant made visible). O(shards) per " +
        "row, one k-row aggregate; moved_tokens is the bytes a 100 TB " +
        "store would copy: ~1/(N+1) of it vs ~all under mod"),

    Q("p150_ranking_metrics",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cents = Similarity.labelCentroids(emb, col("label"), col("embedding"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        Similarity.rankingMetrics(emb, col("vec_id"), col("embedding"), cents,
          col("vec_id") % 29 === 3 && col("vec_id") < 1000, k = 10, nprobe = 3)
      },
      Some {
        val w = Similarity.dcgWeightsMicro(10)
        val rr = (1 to 10).map(1000000L / _)
        val wList = w.mkString("[", ", ", "]")
        val rrList = rr.mkString("[", ", ", "]")
        s"""
        WITH cent AS (
          SELECT label AS bucket, list(c ORDER BY pos) AS cvec FROM (
            SELECT label, u.i - 1 AS pos, round(avg(u.v), 4) AS c
            FROM (SELECT label,
                         unnest(list_transform(generate_series(1, len(embedding)),
                                i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                  FROM embeddings)
            GROUP BY label, u.i)
          GROUP BY label),
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        ev AS (SELECT vec_id AS eval_id, e AS qe FROM v
               WHERE vec_id % 29 = 3 AND vec_id < 1000),
        tr AS (SELECT vec_id AS train_id, e FROM v
               WHERE NOT (vec_id % 29 = 3 AND vec_id < 1000)),
        probe AS (SELECT eval_id, qe, bucket FROM (
            SELECT ev.eval_id, ev.qe, c.bucket,
                   row_number() OVER (PARTITION BY ev.eval_id
                     ORDER BY round(list_cosine_similarity(c.cvec, ev.qe), 6) DESC,
                              c.bucket) AS rn
            FROM ev CROSS JOIN cent c) WHERE rn <= 3),
        assign AS (SELECT train_id, e, bucket FROM (
            SELECT t.train_id, t.e, c.bucket,
                   row_number() OVER (PARTITION BY t.train_id
                     ORDER BY round(list_cosine_similarity(t.e, c.cvec), 6) DESC,
                              c.bucket DESC) AS rn
            FROM tr t CROSS JOIN cent c) WHERE rn = 1),
        sys AS (SELECT eval_id, train_id, rn FROM (
            SELECT p.eval_id, a.train_id,
                   row_number() OVER (PARTITION BY p.eval_id
                     ORDER BY round(list_cosine_similarity(a.e, p.qe), 6) DESC,
                              a.train_id) AS rn
            FROM probe p JOIN assign a USING (bucket)) WHERE rn <= 10),
        ex AS (SELECT eval_id, train_id FROM (
            SELECT ev.eval_id, t.train_id,
                   row_number() OVER (PARTITION BY ev.eval_id
                     ORDER BY round(list_cosine_similarity(t.e, ev.qe), 6) DESC,
                              t.train_id) AS rn
            FROM ev CROSS JOIN tr t) WHERE rn <= 10),
        hit AS (SELECT s.eval_id, s.rn
                FROM sys s JOIN ex USING (eval_id, train_id)),
        agg AS (SELECT eval_id, count(*) AS n_hits, min(rn) AS first_rank,
                       sum(($wList)[rn]) AS dcg_micro
                FROM hit GROUP BY 1)
        SELECT ev.eval_id,
               CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(a.first_rank, 0) AS INT) AS first_rank,
               CAST(coalesce(($rrList)[a.first_rank], 0) AS BIGINT) AS rr_micro,
               CAST(coalesce(a.dcg_micro, 0) AS BIGINT) AS dcg_micro,
               CAST(coalesce(a.dcg_micro, 0) * 1000000 // ${w.sum} AS BIGINT) AS ndcg_ppm
        FROM ev LEFT JOIN agg a USING (eval_id)
        ORDER BY eval_id"""
      },
      "similarity — retrieval RANKING metrics (recall@10, MRR, " +
        "binary-relevance nDCG@10) of the IVF probe path against exact " +
        "brute force over a bounded multi-query eval set: the triple " +
        "every retrieval deployment reports, and the ORDER sensitivity " +
        "p91/p94's hit counts lack (an ANN config can have perfect " +
        "recall and still bury the best hits — nDCG/MRR see that). " +
        "Every metric is exact integer micro-units: per-rank DCG " +
        "discounts are driver-computed literals shared with the oracle, " +
        "reciprocal ranks are 1e6 div rank — no float accumulation " +
        "anywhere, so the gate reproduces bit-for-bit. Eval set fixed " +
        "by key range (an artifact, not corpus-proportional); both " +
        "legs are broadcast-eval x train codegen scans with bounded-heap " +
        "top-k — the exact leg is the scheduled audit, the IVF leg the " +
        "production path under audit"),

    Q("p151_semantic_decontam",
      (s, d) => Similarity.evalProximity(table(s, d, "embeddings"),
        col("vec_id"), col("embedding"),
        col("vec_id") % 37 === 5 && col("vec_id") < 2000,
        topM = 50, contamCos = 0.99),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        pr AS (SELECT vec_id AS probe_id, e AS pe FROM v
               WHERE vec_id % 37 = 5 AND vec_id < 2000),
        tr AS (SELECT vec_id AS train_id, e AS te FROM v
               WHERE NOT (vec_id % 37 = 5 AND vec_id < 2000)),
        sc AS (SELECT train_id, probe_id,
                      round(list_cosine_similarity(te, pe), 6) AS cos
               FROM tr CROSS JOIN pr),
        best AS (SELECT train_id, probe_id AS best_probe, cos FROM (
            SELECT train_id, probe_id, cos,
                   row_number() OVER (PARTITION BY train_id
                     ORDER BY cos DESC, probe_id) AS rn
            FROM sc) WHERE rn = 1),
        rk AS (SELECT train_id,
                      row_number() OVER (ORDER BY cos DESC, train_id) AS r
               FROM best)
        SELECT b.train_id, b.best_probe, b.cos,
               CAST(CASE WHEN rk.r <= 50 THEN rk.r ELSE 0 END AS INT) AS sel_rank,
               CAST(CASE WHEN b.cos >= 0.99 THEN 1 ELSE 0 END AS INT) AS contaminated
        FROM best b JOIN rk USING (train_id)
        ORDER BY b.train_id"""),
      "similarity — SEMANTIC targeted selection + decontamination in one " +
        "pass (the embedding-space twin of p52's n-gram DSIR and the " +
        "p25/p51/p99 n-gram decontamination, which are blind to " +
        "paraphrase): every train vector scores max-cosine to a bounded " +
        "broadcast eval probe set — one codegen map pass, NO shuffle for " +
        "the score — yielding the top-M 'train on what looks like my " +
        "eval distribution' shortlist (bounded-heap top-M, only M rows " +
        "shuffle) and the cos>=0.99 semantic drop list a paraphrased " +
        "benchmark question lands on despite sharing no 13-gram. Ties " +
        "break to smaller probe/train id — a pure function of the corpus"),

    Q("p152_label_noise",
      (s, d) => Similarity.labelNoiseAudit(table(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"),
        col("vec_id") % 13 === 4 && col("vec_id") < 2000, k = 5),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                          CAST(label AS INT) AS label FROM embeddings),
        an AS (SELECT vec_id AS anchor_id, e AS va, label AS own_label FROM v
               WHERE vec_id % 13 = 4 AND vec_id < 2000),
        sc AS (SELECT a.anchor_id, a.own_label, c.vec_id AS cand_id,
                      c.label AS cand_label,
                      round(list_cosine_similarity(a.va, c.e), 6) AS cos
               FROM an a JOIN v c ON a.anchor_id <> c.vec_id),
        tk AS (SELECT anchor_id, own_label, cand_label FROM (
            SELECT anchor_id, own_label, cand_label,
                   row_number() OVER (PARTITION BY anchor_id
                     ORDER BY cos DESC, cand_id) AS rn
            FROM sc) WHERE rn <= 5),
        vt AS (SELECT anchor_id, own_label, cand_label,
                      CAST(count(*) AS BIGINT) AS n_votes
               FROM tk GROUP BY 1, 2, 3),
        pd AS (SELECT anchor_id, own_label, cand_label AS pred_label,
                      n_votes AS n_votes_pred FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                        ORDER BY n_votes DESC, cand_label) AS rn
            FROM vt) WHERE rn = 1),
        ow AS (SELECT anchor_id, n_votes AS n_votes_own FROM vt
               WHERE cand_label = own_label)
        SELECT p.anchor_id, p.own_label, p.pred_label, p.n_votes_pred,
               CAST(coalesce(o.n_votes_own, 0) AS BIGINT) AS n_votes_own,
               CAST(CASE WHEN p.pred_label <> p.own_label THEN 1 ELSE 0 END AS INT)
                 AS mislabel_flag
        FROM pd p LEFT JOIN ow o USING (anchor_id)
        ORDER BY p.anchor_id"""),
      "similarity — LABEL-NOISE audit (confident-learning-style kNN " +
        "disagreement), the quality gate for labeled data (reward-model " +
        "preference sets, quality-classifier seeds): each anchor in a " +
        "bounded audit sample takes the 5 nearest OTHER vectors' vote; " +
        "anchors whose own label loses are the rows a re-annotation " +
        "pass reads first. Emits both vote masses so downstream can " +
        "threshold on margin, not just the flag. Unlike p125 (a split's " +
        "aggregate accuracy) this interrogates individual rows. Anchors " +
        "fixed-sample broadcast over one codegen scan; per-anchor top-k " +
        "via bounded heaps; majority ties to smaller label, cosine ties " +
        "to smaller id — reproducible anywhere"),

    Q("p153_mutual_knn_graph",
      (s, d) => Similarity.mutualKnnGraph(TpchGraph.lshPairs(s, d), k = 4),
      Some(mutualKnnOracle),
      "similarity — MUTUAL-kNN graph sparsification over the shared " +
        "LSH-blocked pair set (p22's maintained artifact): keep (a,b) " +
        "only when each is in the other's top-4 — the degree-bounded " +
        "similarity graph SemDedup-style clustering actually runs on, " +
        "where p24/p32's plain cos>=t threshold explodes around hubs " +
        "(a generic vector keeps its whole dense neighborhood; the hub " +
        "doesn't reciprocate its satellites, so those edges drop). " +
        "Symmetrize, bounded-heap top-k per node (<=k rows shuffle), " +
        "one reversed-edge semi-join for mutuality — O(k·nodes) after " +
        "blocking regardless of raw pair density"),

    Q("p154_semantic_clusters",
      (s, d) => {
        // cluster collapse over the DEGREE-BOUNDED similarity graph:
        // p153's mutual-kNN edges -> DataFrame CC. p24/p32 collapse the
        // raw thresholded graph, where one hub chains unrelated regions
        // into a mega-cluster; mutuality cuts those bridges first, so
        // the components are the tight semantic groups SemDedup keeps
        val mutual = Similarity.mutualKnnGraph(TpchGraph.lshPairs(s, d), k = 4)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        graft.plans.DfConnectedComponents.run(mutual)
          .groupBy(col("component").cast("long").as("cluster_id"))
          .agg(count(lit(1)).cast("long").as("n_members"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE $lshPairCtes,
        pairs AS (SELECT id_a, id_b, cos FROM pr WHERE cos >= 0.4),
        sym AS (SELECT id_a AS src, id_b AS dst, cos FROM pairs
                UNION ALL SELECT id_b, id_a, cos FROM pairs),
        tk AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                     ORDER BY cos DESC, dst) AS rn
            FROM sym) WHERE rn <= 4),
        mu AS (SELECT t.src AS id_a, t.dst AS id_b
               FROM tk t JOIN tk r ON r.src = t.dst AND r.dst = t.src
               WHERE t.src < t.dst),
        edges AS (SELECT id_a AS s, id_b AS t FROM mu
                  UNION ALL SELECT id_b, id_a FROM mu),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.t
          WHERE r.lbl < e.s),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        SELECT CAST(component AS BIGINT) AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_members
        FROM comp GROUP BY 1 ORDER BY 1"""),
      "similarity — cluster collapse over the DEGREE-BOUNDED graph: " +
        "p153's mutual-kNN edges -> DataFrame CC (O(log n) star " +
        "contraction), the SemDedup-style semantic grouping. Where " +
        "p24/p32 collapse the raw cos>=t graph — one hub vector chains " +
        "unrelated dense regions into a mega-cluster — mutuality cuts " +
        "hub bridges BEFORE the transitive closure, so components stay " +
        "tight. Same CC engine, structurally skew-proofed input; the " +
        "oracle replays blocking, top-k, mutuality, and the closure as " +
        "one recursive CTE"),

    Q("p155_streaming_knn_store",
      (s, d) => {
        // the similarity graph as a MAINTAINED artifact: three arrival
        // waves of near-dup pairs fold into the per-node top-4 neighbor
        // store (<= k rows per node, fixed-size forever); the mutuality
        // readout of the maintained store must equal p153's one-shot
        // graph — top-k is mergeable, so it does, and the shared oracle
        // gates exactly that invariant
        val pairs = TpchGraph.lshPairs(s, d)
        val store = (0 to 2).foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
          (st, w) => Some(Similarity.knnStoreMerge(st,
            pairs.filter((col("id_a") + col("id_b")) % 3 === w), k = 4))
        }.get
        Similarity.mutualKnnFromStore(store)
      },
      Some(mutualKnnOracle),
      "similarity/streaming — the mutual-kNN store MAINTAINED across " +
        "three arrival waves: each wave merges into the per-node top-4 " +
        "neighbor store via the bounded-heap operator (top-k is " +
        "mergeable: topk(A∪B) = topk(topk(A)∪B), the p58/p117/p128 " +
        "maintenance discipline), state <= k rows per node forever. " +
        "The mutuality readout of the maintained store hash-equals " +
        "p153's one-shot graph — the shared oracle IS the " +
        "maintained==one-shot invariant"),

    Q("p156_delete_cascade",
      (s, d) => graft.pipeline.Curation.deleteCascade(
        table(s, d, "documents"), col("doc_id"), col("text"),
        col("doc_id") % 41 === 6, shards = 8),
      Some(s"""
        WITH base AS (
          SELECT doc_id,
                 len(${sqlTokens("lower(text)")}) AS n_tok,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
                 ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 8 AS shard,
                 doc_id % 41 = 6 AS del
          FROM documents),
        d1 AS (SELECT 'documents' AS artifact,
                      count(*) AS nb,
                      sum(CASE WHEN del THEN 1 ELSE 0 END) AS na,
                      count(*) - sum(CASE WHEN del THEN 1 ELSE 0 END) AS nf
               FROM base),
        d2 AS (SELECT 'fingerprint_store', count(*),
                      sum(CASE WHEN nd = n THEN 1 ELSE 0 END),
                      count(*) - sum(CASE WHEN nd = n THEN 1 ELSE 0 END)
               FROM (SELECT fp, count(*) AS n,
                            sum(CASE WHEN del THEN 1 ELSE 0 END) AS nd
                     FROM base GROUP BY fp)),
        d3 AS (SELECT 'shard_manifests', count(*), sum(touched), count(*)
               FROM (SELECT shard,
                            max(CASE WHEN del THEN 1 ELSE 0 END) AS touched
                     FROM base GROUP BY shard)),
        d4 AS (SELECT 'token_mass', sum(n_tok),
                      sum(CASE WHEN del THEN n_tok ELSE 0 END),
                      sum(n_tok) - sum(CASE WHEN del THEN n_tok ELSE 0 END)
               FROM base),
        u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2
              UNION ALL SELECT * FROM d3 UNION ALL SELECT * FROM d4)
        SELECT artifact, CAST(nb AS BIGINT) AS n_before,
               CAST(na AS BIGINT) AS n_affected, CAST(nf AS BIGINT) AS n_after
        FROM u ORDER BY artifact"""),
      "curation — right-to-be-forgotten CASCADE audit: what a delete " +
        "set costs across the derived artifacts BEFORE the deletion " +
        "runs. A delete at 100 TB is never one table — the fingerprint " +
        "dedup store loses only groups whose EVERY member died, shard " +
        "manifests containing a deleted doc must rewrite (placement = " +
        "p83's hash rule, so the touched count is that store's exact " +
        "rewrite set), and the mixture planner's token masses shift. " +
        "One pass over the corpus; every artifact row is a map-side-" +
        "combined aggregate of the same projected base; exact integers"),

    Q("p157_mad_outliers",
      (s, d) => Quality.madOutlierGate(table(s, d, "documents"),
        col("doc_id"), col("source"),
        size(TextOps.tokens(lower(col("text")))), k = 3),
      Some(s"""
        WITH base AS (
          SELECT doc_id, source, len(${sqlTokens("lower(text)")}) AS v
          FROM documents),
        h1 AS (SELECT source, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        c1 AS (SELECT source, v,
                      sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
                      sum(cnt) OVER (PARTITION BY source) AS n
               FROM h1),
        med AS (SELECT source, CAST(min(v) AS BIGINT) AS med FROM c1
                WHERE cum >= (n + 1) // 2 GROUP BY 1),
        dev AS (SELECT b.source, b.doc_id, m.med, abs(b.v - m.med) AS dev
                FROM base b JOIN med m USING (source)),
        h2 AS (SELECT source, dev, count(*) AS cnt FROM dev GROUP BY 1, 2),
        c2 AS (SELECT source, dev,
                      sum(cnt) OVER (PARTITION BY source ORDER BY dev) AS cum,
                      sum(cnt) OVER (PARTITION BY source) AS n
               FROM h2),
        mad AS (SELECT source, CAST(min(dev) AS BIGINT) AS mad FROM c2
                WHERE cum >= (n + 1) // 2 GROUP BY 1)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(d.med) AS BIGINT) AS median_v,
               CAST(max(m.mad) AS BIGINT) AS mad_v,
               CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers,
               CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)
                 * 1000000 // count(*) AS BIGINT) AS outlier_ppm
        FROM dev d JOIN mad m USING (source)
        GROUP BY 1 ORDER BY 1"""),
      "text quality — MAD outlier gate, the ROBUST twin of p59's " +
        "k-sigma rule: flag docs > 3 median-absolute-deviations from " +
        "the per-source token-count median. Heavy-tailed corpus stats " +
        "break mean/stddev gates (one 10 MB boilerplate page drags the " +
        "mean past half the outliers); median/MAD have a 50% breakdown " +
        "point and on integral inputs are EXACT INTEGERS — both derived " +
        "from value histograms with cumulative windows over DISTINCT " +
        "values per source (bounded, never corpus-wide), medians " +
        "broadcast back as k-row tables"),

    Q("p158_preference_pairs",
      (s, d) => graft.pipeline.Curation.preferencePairs(
        table(s, d, "documents"), col("doc_id"), col("text"), col("source"),
        k = 3, minMarginPpm = 100000L),
      Some(s"""
        WITH t AS (
          SELECT source, doc_id,
                 CAST(len(list_filter(${sqlTokens("lower(text)")},
                      x -> x IN ('the','a','an','of','and','or','to','in','is','it'))) AS BIGINT)
                   * 1000000
                 // greatest(CAST(len(${sqlTokens("lower(text)")}) AS BIGINT), 1)
                   AS score_ppm
          FROM documents),
        ch AS (SELECT source, doc_id AS chosen_id, score_ppm AS chosen_ppm,
                      row_number() OVER (PARTITION BY source
                        ORDER BY score_ppm DESC, doc_id) AS rank
               FROM t),
        rj AS (SELECT source, doc_id AS rejected_id, score_ppm AS rejected_ppm,
                      row_number() OVER (PARTITION BY source
                        ORDER BY score_ppm ASC, doc_id) AS rank
               FROM t)
        SELECT ch.source, CAST(ch.rank AS INT) AS rank,
               ch.chosen_id, ch.chosen_ppm, rj.rejected_id, rj.rejected_ppm,
               ch.chosen_ppm - rj.rejected_ppm AS margin_ppm
        FROM ch JOIN rj ON ch.source = rj.source AND ch.rank = rj.rank
        WHERE ch.rank <= 3 AND ch.chosen_id <> rj.rejected_id
          AND ch.chosen_ppm - rj.rejected_ppm >= 100000
        ORDER BY ch.source, ch.rank"""),
      "curation — PREFERENCE-PAIR export, the (chosen, rejected) table " +
        "a reward-model / DPO trainer consumes: per source the k best " +
        "and k worst docs by integer-ppm stopword ratio (the p39/p43 " +
        "signal made exact — no float), zipped by rank so extremes pair " +
        "with extremes, kept only when the margin clears 100000 ppm (a " +
        "near-tie teaches a preference model nothing). Both ends come " +
        "from bounded heaps — <= k rows per source cross the shuffle, " +
        "one map-side corpus scan; ties break by smaller doc id, so two " +
        "training runs see identical preference data"),

    Q("p159_cusum_alarm",
      (s, d) => Anomaly.cusumAlarm(
        graft.sources.TpchGraph.events(s, d), col("ts")),
      Some("""
        WITH h AS (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1),
        st AS (SELECT sum(n) AS tot, count(*) AS nh FROM h),
        c AS (SELECT bucket, n,
                     tot // nh AS mean,
                     (tot // nh) // 20 AS slack,
                     row_number() OVER (ORDER BY bucket) AS t,
                     sum(n) OVER (ORDER BY bucket) AS prefix
              FROM h CROSS JOIN st),
        y AS (SELECT bucket, n, mean,
                     prefix - t * (mean + slack) AS y
              FROM c),
        s AS (SELECT bucket, n, mean,
                     y - least(0, min(y) OVER (ORDER BY bucket)) AS cusum
              FROM y)
        SELECT bucket, n, CAST(cusum AS BIGINT) AS cusum,
               CAST(CASE WHEN cusum > mean THEN 1 ELSE 0 END AS INT) AS alarm
        FROM s ORDER BY bucket"""),
      "monitoring — CUSUM change-point alarm over hourly event counts: " +
        "the SEQUENTIAL drift detector beside the point-wise gates (p59 " +
        "flags single outliers, p80 compares whole distributions) — a " +
        "sustained small shift that never trips a per-point test " +
        "accumulates and alarms within a few buckets. Page's recursion " +
        "max(0, S+x-mu-k) is made relational via its prefix form " +
        "S_t = y_t - min_{j<=t} y_j: two cumulative windows over the " +
        "hour-bucket aggregate (bounded by the time range, never " +
        "row-sized), exact integers throughout (mu, kappa by floor div)"),

    Q("p160_calibration_bins",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val cents = Similarity.labelCentroids(emb, col("label"), col("embedding"))
          .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (lab, rows) =>
            lab -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
        Similarity.calibrationBins(emb, col("vec_id"), col("embedding"),
          col("label"), cents, bins = 10)
      },
      Some("""
        WITH cent AS (
          SELECT label AS clabel, list(c ORDER BY pos) AS cvec FROM (
            SELECT label, u.i - 1 AS pos, round(avg(u.v), 4) AS c
            FROM (SELECT label,
                         unnest(list_transform(generate_series(1, len(embedding)),
                                i -> {'i': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                  FROM embeddings)
            GROUP BY label, u.i)
          GROUP BY label),
        best AS (
          SELECT vec_id, label, predicted, conf_micro FROM (
            SELECT e.vec_id, CAST(e.label AS INT) AS label,
                   c.clabel AS predicted,
                   CAST(round(round(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]), c.cvec), 6) * 1000000, 0)
                     AS BIGINT) AS conf_micro,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC,
                              c.clabel) AS rn
            FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        b AS (SELECT CAST(least(greatest(conf_micro, 0) * 10 // 1000000, 9) AS INT) AS bin,
                     label, predicted, conf_micro
              FROM best)
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct,
               CAST(sum(conf_micro) AS BIGINT) AS conf_sum_micro,
               CAST(sum(CASE WHEN predicted = label THEN 1 ELSE 0 END)
                 * 1000000 // count(*) AS BIGINT) AS acc_ppm
        FROM b GROUP BY 1 ORDER BY 1"""),
      "similarity — CALIBRATION bins for the centroid classifier (the " +
        "reliability diagram behind ECE): bucket every vector by " +
        "prediction confidence (cosine to the winning centroid, " +
        "micro-units), report per-bin count / hits / exact accuracy " +
        "ppm / summed confidence mass — a classifier gating curation " +
        "is only trustworthy if 0.9-confidence predictions are right " +
        "~90% of the time, and |acc-conf| weighted by n/N over these " +
        "rows IS the ECE. All integer: round-then-cast confidence " +
        "(Spark CAST truncates where other engines round — the " +
        "explicit round is the portable form), floor-div binning on " +
        "the non-negative clamp. One broadcast-centroid map pass + a " +
        "bins-row aggregate"),

    Q("p161_streaming_cusum",
      (s, d) => {
        // the CUSUM series as a MAINTAINED artifact: three arrival
        // waves of events fold into the per-hour count store (counts
        // are commutative sums, so maintained == one-shot exactly);
        // the alarm readout of the merged store must hash-equal p159 —
        // the shared oracle gates that invariant
        val ev = graft.sources.TpchGraph.events(s, d)
        val store = (0 to 2).map(w =>
            Anomaly.bucketCounts(ev.filter(pmod(col("user_id"), lit(3)) === w),
              col("ts")))
          .reduce(Anomaly.mergeBucketCounts)
        Anomaly.cusumFromBuckets(store)
      },
      Some("""
        WITH h AS (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1),
        st AS (SELECT sum(n) AS tot, count(*) AS nh FROM h),
        c AS (SELECT bucket, n,
                     tot // nh AS mean,
                     (tot // nh) // 20 AS slack,
                     row_number() OVER (ORDER BY bucket) AS t,
                     sum(n) OVER (ORDER BY bucket) AS prefix
              FROM h CROSS JOIN st),
        y AS (SELECT bucket, n, mean,
                     prefix - t * (mean + slack) AS y
              FROM c),
        s AS (SELECT bucket, n, mean,
                     y - least(0, min(y) OVER (ORDER BY bucket)) AS cusum
              FROM y)
        SELECT bucket, n, CAST(cusum AS BIGINT) AS cusum,
               CAST(CASE WHEN cusum > mean THEN 1 ELSE 0 END AS INT) AS alarm
        FROM s ORDER BY bucket"""),
      "monitoring/streaming — the CUSUM hour-bucket series MAINTAINED " +
        "across three arrival waves: counts are commutative sums, so " +
        "the wave-merged store equals the one-shot series exactly and " +
        "the alarm readout hash-equals p159 (the shared oracle IS the " +
        "maintained==one-shot invariant). Fixed-size state — one row " +
        "per hour bucket — regardless of event volume"),

    Q("p162_epoch_materialization",
      (s, d) => Sampling.epochMaterialization(table(s, d, "documents"),
        col("doc_id"), col("lang"), size(TextOps.tokens(lower(col("text"))))),
      Some(s"""
        WITH me AS ($mixtureEpochsOracle),
        j AS (SELECT d.lang AS stratum, d.doc_id, me.epochs_micro
              FROM documents d JOIN me ON me.stratum = d.lang),
        c AS (SELECT stratum, epochs_micro,
                     epochs_micro // 1000000
                     + CASE WHEN (('0x' || substring(md5('epoch:'
                           || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                           * 1000000) // 268435456
                         < epochs_micro % 1000000 THEN 1 ELSE 0 END AS copies
              FROM j)
        SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(epochs_micro) AS BIGINT) AS planned_micro,
               CAST(sum(copies) AS BIGINT) AS sum_copies,
               CAST(sum(copies) * 1000000 // count(*) AS BIGINT) AS realized_micro,
               CAST(abs(sum(copies) * 1000000 // count(*)
                 - max(epochs_micro)) AS BIGINT) AS err_micro
        FROM c GROUP BY 1 ORDER BY 1"""),
      "curation — mixture-epoch MATERIALIZATION: turns p141's " +
        "fractional plan into actual per-doc repeat counts a shard " +
        "writer executes (1.37 epochs = 1 copy each + a second copy " +
        "for a deterministic hash-drawn 37% — rand() would re-deal the " +
        "corpus every retry), with the per-stratum audit of realized " +
        "vs planned mean copies in exact integer micro-units; err is " +
        "the number a mixture QA gate thresholds. k-row plan " +
        "broadcast, one codegen map pass, k-row aggregate"),

    Q("p163_funnel_latency",
      (s, d) => graft.functions.Events.funnelLatency(
        graft.sources.TpchGraph.events(s, d),
        col("user_id"), col("ts"), col("event_type"),
        steps = Seq("view", "click", "purchase")),
      Some("""
        WITH v AS (SELECT user_id, min(ts) AS t FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(e.ts) AS t, min(v.t) AS pt
              FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t
              WHERE e.event_type = 'click' GROUP BY 1),
        p AS (SELECT e.user_id, min(e.ts) AS t, min(c.t) AS pt
              FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t
              WHERE e.event_type = 'purchase' GROUP BY 1),
        d AS (SELECT 1 AS step, 'view->click' AS transition,
                     date_diff('second', pt, t) // 60 AS delay_min FROM c
              UNION ALL
              SELECT 2, 'click->purchase',
                     date_diff('second', pt, t) // 60 FROM p),
        h AS (SELECT step, transition, delay_min, count(*) AS cnt
              FROM d GROUP BY 1, 2, 3),
        cc AS (SELECT step, transition, delay_min,
                      sum(cnt) OVER (PARTITION BY transition
                        ORDER BY delay_min) AS cum,
                      sum(cnt) OVER (PARTITION BY transition) AS n,
                      max(delay_min) OVER (PARTITION BY transition) AS mx
               FROM h)
        SELECT CAST(step AS INT) AS step, transition,
               CAST(max(n) AS BIGINT) AS n_users,
               CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN delay_min END) AS BIGINT)
                 AS median_min,
               CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN delay_min END) AS BIGINT)
                 AS p90_min,
               CAST(max(mx) AS BIGINT) AS max_min
        FROM cc GROUP BY 1, 2 ORDER BY 1"""),
      "analytics — funnel TIME-TO-CONVERT quantiles, the latency " +
        "companion of p60's survival counts (counts alone hide a dying " +
        "funnel whose users still trickle through): per transition, " +
        "exact lower-median / p90 / max delay in whole minutes between " +
        "first-touch at step i and the first qualifying touch at i+1. " +
        "Quantiles via the histogram-rank technique (p70/p157) — one " +
        "cumulative window per transition over DISTINCT minute values, " +
        "never user-sized; p90 rank = (9n+9) div 10 exact. The p90 is " +
        "the number a re-engagement SLA is set against"),

    Q("p164_collocations",
      (s, d) => Corpus.collocations(table(s, d, "documents"), col("text"),
        minJoint = 5L, topN = 30),
      Some(s"""
        WITH t AS (SELECT ${sqlTokens("lower(text)")} AS ts FROM documents),
        uni AS (SELECT tk AS t, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(ts) AS tk FROM t) GROUP BY 1),
        tot AS (SELECT CAST(coalesce(sum(len(ts)), 0) AS BIGINT) AS n_total FROM t),
        bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS joint FROM (
            SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                   i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS p
            FROM t WHERE len(ts) >= 2) q(p),
            LATERAL (SELECT p.w1 AS w1, p.w2 AS w2) x
          GROUP BY 1, 2 HAVING count(*) >= 5)
        SELECT bi.w1, bi.w2, bi.joint,
               u1.c AS left_c, u2.c AS right_c,
               CAST(bi.joint * tot.n_total * 1000
                 // (u1.c * u2.c) AS BIGINT) AS lift_milli
        FROM bi JOIN uni u1 ON u1.t = bi.w1
                JOIN uni u2 ON u2.t = bi.w2
                CROSS JOIN tot
        ORDER BY lift_milli DESC, joint DESC, w1, w2 LIMIT 30"""),
      "corpus — COLLOCATION mining: word pairs ranked by exact integer " +
        "LIFT joint*N*1000 div (left*right) — the PMI exponential kept " +
        "in milli-units so the ranking hash-verifies (log-PMI needs " +
        "libm and never does; lift orders identically). Raw bigram " +
        "counts rank 'of the' first; lift surfaces the multi-word " +
        "expressions a tokenizer or index wants as single units, with " +
        "the standard count floor against rare-pair luck. Two map-side " +
        "token scans, two joins against the unigram table, " +
        "TakeOrdered top-30 (per-partition heaps, no global sort)"),

    Q("p165_rater_agreement",
      (s, d) => {
        // two deterministic size raters over the same docs — a
        // char-band rater and a word-band (space-count) rater: they
        // measure the same latent quantity differently, so agreement
        // is high but imperfect (the model-vs-heuristic drift-check
        // shape; swap in real annotator columns unchanged)
        val docs = table(s, d, "documents")
        val spaces = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
        Quality.raterAgreement(docs,
          when(col("n_chars") < 150, 0L).when(col("n_chars") < 350, 1L).otherwise(2L),
          when(spaces < 25, 0L).when(spaces < 60, 1L).otherwise(2L))
          .orderBy("label_a", "label_b")
      },
      Some(kappaOracle),
      "labeling QA — INTER-RATER AGREEMENT (Cohen's kappa) between two " +
        "label columns: raw agreement is inflated by skewed marginals, " +
        "kappa subtracts the chance agreement of independent raters " +
        "with the same marginals. Exact integer ppm throughout, with " +
        "explicit truncation-toward-zero CASEs so a worse-than-chance " +
        "negative kappa divides identically on both engines. One " +
        "map-side corpus pass to label-pair cells; marginals and the " +
        "kappa live on the cells alone — output is the confusion " +
        "matrix with the global verdict repeated per row"),

    Q("p166_streaming_kappa",
      (s, d) => {
        // the kappa cells as a MAINTAINED artifact: three annotation
        // waves fold into the label-pair cell store (counts are
        // commutative sums, so maintained == one-shot exactly) and the
        // verdict of the merged store must hash-equal p165 — the
        // shared oracle IS that invariant. Fixed label^2-sized state
        // regardless of annotation volume
        val docs = table(s, d, "documents")
        val spaces = length(col("text")) - length(regexp_replace(col("text"), " ", ""))
        val a = when(col("n_chars") < 150, 0L).when(col("n_chars") < 350, 1L).otherwise(2L)
        val b = when(spaces < 25, 0L).when(spaces < 60, 1L).otherwise(2L)
        val store = (0 to 2).map(w =>
            Quality.raterCells(docs.filter(pmod(col("doc_id"), lit(3)) === w), a, b))
          .reduce(Quality.mergeRaterCells)
        Quality.raterVerdict(store).orderBy("label_a", "label_b")
      },
      Some(kappaOracle),
      "labeling QA / streaming — p165's kappa cells MAINTAINED across " +
        "three annotation waves: label-pair counts are commutative " +
        "sums, so the wave-merged store equals the one-shot matrix " +
        "exactly and the kappa readout hash-equals p165 (the shared " +
        "oracle gates the maintained == one-shot invariant, the " +
        "p71/p101/p114/p128/p161 incremental-family discipline). " +
        "Fixed label-squared state however many annotations arrive"),

    Q("p169_sessionize_sharded",
      (s, d) => EventStream.sessionizeBatchSharded(table(s, d, "events"),
        gapMinutes = 30, hotThreshold = 50, shardMinutes = 1440),
      Some(sessionizeOracle),
      "streaming — HOT-KEY-SAFE sessionization (r14 skew ask): users " +
        "above the hot threshold have their events time-sharded into " +
        "day buckets, the event-scale lag window runs per (user, shard) " +
        "— parallel across a mega-user's shards instead of one " +
        "straggler task — and boundary-straddling sessions stitch back " +
        "at SESSION granularity. The oracle replays the PLAIN unsharded " +
        "recurrence (p14's SQL verbatim), so the gate itself proves " +
        "shard+merge == direct sessionization on real data (threshold " +
        "50 shards every active user at gate SFs); streaming twin " +
        "sessionShardTimeoutPipeline drives p111 the same way")
  )
}
