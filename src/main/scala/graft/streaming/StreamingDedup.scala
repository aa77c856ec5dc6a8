package graft.streaming

import graft.core.Ckpt._
import graft.functions.Dedup
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (micro-batch) near-duplicate filtering — the streaming
  * form of corpus dedup a training-data pipeline actually runs: documents
  * arrive continuously and each batch must be checked against everything
  * already accepted, without re-scanning the corpus.
  *
  * State is two parquet tables under `storeDir`:
  *   - `sigs`    — `(id, signature)` MinHash signatures of accepted docs;
  *   - `buckets` — `(band, bucket, id)` LSH banding of those signatures,
  *     the probe index: a new batch joins ONLY on compact band keys, so
  *     per-batch cost is O(batch × matching buckets), not O(corpus).
  *
  * At cluster scale the buckets table is bucketed/partitioned by
  * `(band, bucket)` so the probe is a pruned, co-located join; signatures
  * join only for the candidate ids. Batches are idempotent per id (an id
  * already in the store is never re-added), so at-least-once replay
  * converges like [[GraphStream.upsertBatch]].
  */
object StreamingDedup {

  final case class BatchResult(fresh: DataFrame, duplicates: DataFrame) {
    /** Free the checkpointed RDDs behind `fresh`/`duplicates` once
      * consumed — a long-running stream calling [[dedupeBatch]] per
      * micro-batch would otherwise accumulate dead storage blocks for
      * the session lifetime.
      */
    def release(): Unit = {
      org.apache.spark.sql.graft.CatalystBridge.unpersistCheckpoint(fresh)
      org.apache.spark.sql.graft.CatalystBridge.unpersistCheckpoint(duplicates)
    }
  }

  private def readOr(spark: SparkSession, path: String, empty: => DataFrame): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pin the schema from the (job-free) empty frame: the store is written
    // by this object, so re-inferring it from file footers every batch is
    // pure overhead
    if (fs.exists(hPath)) spark.read.schema(empty.schema).parquet(path) else empty
  }

  /** Process one micro-batch of `(id, text)` documents:
    * returns the accepted (fresh) ids and the duplicate pairs
    * `(id, dup_of, est_jaccard)`, and appends the fresh docs' signatures
    * and buckets to the store. A doc is a duplicate if its estimated
    * Jaccard against an accepted doc — stored or a smaller-id doc of the
    * same batch — reaches `minEstJaccard`.
    */
  def dedupeBatch(batch: DataFrame, id: Column, text: Column, storeDir: String,
                  n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                  minEstJaccard: Double = 0.9): BatchResult = {
    val spark = batch.sparkSession
    val rows = numHashes / bands
    // explicit width before the gram explode: the batch is tiny in BYTES
    // (AQE coalesces its dedup shuffle to one partition) but the per-gram
    // md5 + per-doc minima pipeline is CPU-heavy — a fixed-width
    // round-robin exchange is respected by AQE and keeps it parallel
    val width = spark.sparkContext.defaultParallelism
    val newSigs = Dedup.minHashSignature(
      batch.dropDuplicates().repartition(width), id, text, n, numHashes)
      .lckpt() // signatures feed probe + verify + store append
    val newBuckets = Dedup.bandBuckets(newSigs, bands, rows)

    val storedSigs = readOr(spark, s"$storeDir/sigs",
      newSigs.limit(0))
    val storedBuckets = readOr(spark, s"$storeDir/buckets",
      newBuckets.limit(0))

    // candidates vs the store: join on compact (band, bucket) keys only
    val vsStore = newBuckets.select(col("band"), col("bucket"), col("id"))
      .join(storedBuckets.withColumnRenamed("id", "dup_of"), Seq("band", "bucket"))
      // a doc never duplicates itself: replays meet their own stored (or
      // crash-orphaned) buckets, and must be handled by the sigs
      // anti-join, not flagged as dups
      .filter(col("id") =!= col("dup_of"))
      .select(col("id"), col("dup_of")).distinct()
    // candidates within the batch: keep the smaller id as the original
    val intra = Dedup.lshCandidates(newSigs, bands, rows)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"))
    val cands = vsStore.unionByName(intra)
      .select(col("id").as("id_a"), col("dup_of").as("id_b"))

    val allSigs = newSigs.unionByName(storedSigs)
    // id_a is ALWAYS a new-batch doc (vsStore probes from newBuckets,
    // intra keeps the larger batch id as id_a), so its signature comes
    // from the batch-sized newSigs; only the id_b side may be stored —
    // the single-table form exchanged the whole accepted-signature store
    // twice per micro-batch (verdict ask #6)
    val dupPairs = Dedup.estimatedJaccard(cands, newSigs, allSigs, numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a").as("id"), col("id_b").as("dup_of"), col("est_jaccard"))

    // ONE per-batch verdict checkpoint (formerly separate dups + fresh
    // checkpoints = two extra jobs per micro-batch): each new doc carries
    // its duplicate evidence (k rows when it matches k accepted docs,
    // nulls when fresh) plus a replay marker; both outputs and both store
    // appends below are narrow filters over this.
    val verdict0 = newSigs
      .join(dupPairs, Seq("id"), "left_outer")
      .join(storedSigs.select(col("id"), lit(true).as("replayed")), // replay idempotence
        Seq("id"), "left_outer")
    val verdict = verdict0.lckpt()
    graft.core.IterPlan.debugDump("dedup batch verdict", verdict0)

    val dups = verdict.filter(col("dup_of").isNotNull)
      .select(col("id"), col("dup_of"), col("est_jaccard"))
    val freshSigs = verdict
      .filter(col("dup_of").isNull && col("replayed").isNull)
      .select(col("id"), col("signature"))

    // write order matters for crash-safety: buckets first, sigs last.
    // The replay marker keys off sigs, so a crash between the two writes
    // leaves orphan bucket rows whose ids are NOT in sigs — replay
    // re-processes those ids (duplicate bucket rows are harmless:
    // candidate pairs are distinct()ed). The reverse order would leave
    // ids in sigs with no probe-index entry, permanently invisible to
    // future duplicate checks.
    Dedup.bandBuckets(freshSigs, bands, rows)
      .write.mode(SaveMode.Append).parquet(s"$storeDir/buckets")
    freshSigs.write.mode(SaveMode.Append).parquet(s"$storeDir/sigs")

    // the intermediate signature checkpoint would otherwise live until
    // session end (the shared verdict checkpoint behind fresh/duplicates
    // is freed by BatchResult.release)
    org.apache.spark.sql.graft.CatalystBridge.unpersistCheckpoint(newSigs)
    BatchResult(freshSigs.select("id"), dups)
  }
}
