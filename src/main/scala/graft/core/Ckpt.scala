package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.StorageLevel

/** The one way engine code cuts lineage.
  *
  * The iterative plans (PageRank, HITS, k-core, SCC, BFS, the triangle
  * family, CC merge loops…) cut lineage every round, and the corpus
  * pipelines cut it where a derived table feeds several consumers.
  * `lckpt` is that cut, in one form:
  *
  *  - It runs the plan now, with AQE on as the session has it, and
  *    persists the rows at [[level]] behind a `LogicalRDD` leaf.
  *  - The leaf keeps the partitioning and ordering the rows were stored
  *    in, read from the adaptive plan's final form
  *    ([[org.apache.spark.sql.graft.CatalystBridge.partitionKeepingCheckpoint]]).
  *    A loop-static table shaped once with [[IterPlan]]'s `keyed` is
  *    therefore joined every round without an Exchange on its side, and
  *    an aggregate's result keeps its (possibly coalesced) hash
  *    partitioning.
  *  - The leaf reports the bytes its blocks were stored at, not the
  *    optimizer's estimate. One rule then picks every join over a
  *    checkpoint leaf: `spark.sql.autoBroadcastJoinThreshold`. A
  *    frontier-scale leaf broadcasts; a corpus-scale one sort-merges,
  *    with no Exchange on a `keyed` side. No loop pins a strategy.
  *  - Nothing is deferred: when `lckpt` returns, the blocks exist and
  *    the job that wrote them has finished.
  *
  * The storage level is deployment-aware. `localCheckpoint` blocks live
  * only on the executors that computed them and the lineage is gone, so
  * on a multi-executor master one executor death strands every consumer
  * (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; the r13 executor-kill stress
  * reproduced it on g52 (HITS) under `local-cluster[2,4,2048]`). Cluster
  * masters therefore store a replica; a single-JVM master (`local[N]`,
  * the bench rig) keeps `localCheckpoint`'s default level.
  */
object Ckpt {

  private[core] def singleJvm(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** A/B hook for the executor-kill harness: forces the unreplicated
    * pre-fix level on a cluster master, so the kill sweep can show the
    * failure the replica exists to prevent (and its absence with it).
    */
  private def forceNoReplica: Boolean =
    sys.env.get("SPARK_GRAFT_CKPT_NO_REPLICA").contains("1")

  /** Replicated and DISK-RESIDENT on cluster masters. The level was
    * tuned by failure, twice, on the r13 memory-pressure rig (sf1.0,
    * 2 GiB executors):
    *
    *  - `MEMORY_AND_DISK_2` (deserialized): replication serializes each
    *    block at SEND time — a full-block allocation spike on top of
    *    the deserialized copy. Executors OOMed inside
    *    `BlockManager.replicate`.
    *  - `MEMORY_AND_DISK_SER_2`: the sender ships stored bytes, but the
    *    RECEIVER of a streamed replica (`TempFileBasedBlockStoreUpdater`)
    *    reads the temp file back into one contiguous ByteBuffer whenever
    *    the level wants memory — a 75 MB block on a pressured heap, OOM
    *    again.
    *
    * `DISK_ONLY_2` closes both: the write path serializes straight to
    * local disk (no block-sized heap residency), replication streams
    * file-to-file (past [[Masters]]' 8 MB threshold the receiver just
    * MOVES the temp file — zero allocation), and survivability is
    * unchanged. Checkpoint blocks are lineage-cut durability artifacts,
    * not hot caches: they are written once and read a round later, the
    * OS page cache serves that re-read at memory speed on any healthy
    * executor, and under real pressure a memory-tiered level would have
    * evicted to disk anyway — this just stops them competing with
    * execution memory for heap, which is what UNABLE_TO_ACQUIRE_MEMORY
    * task deaths were the symptom of.
    */
  def level(ds: Dataset[_]): StorageLevel =
    levelFor(ds.sparkSession.sparkContext.master, forceNoReplica)

  /** Pure master-string → level resolution, split out so the spec can
    * pin CONCRETE levels per known master (and per A/B override state)
    * without depending on the suite's own live master or env.
    */
  private[core] def levelFor(master: String, noReplica: Boolean): StorageLevel =
    if (singleJvm(master) || noReplica) StorageLevel.MEMORY_AND_DISK
    else StorageLevel.DISK_ONLY_2

  implicit class DatasetCkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Run `ds` now and cut its lineage at [[level]], keeping the final
      * plan's partitioning and ordering on the leaf. */
    def lckpt(): Dataset[T] = CatalystBridge.partitionKeepingCheckpoint(ds, level(ds))
  }
}
