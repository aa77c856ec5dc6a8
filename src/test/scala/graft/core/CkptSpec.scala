package graft.core

import graft.SparkSpec
import org.apache.spark.StoredBytes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.{BlockStatus, StorageLevel}

/** Pins the deployment-resolved lineage-cut storage level: single-JVM
  * masters keep localCheckpoint's stock MEMORY_AND_DISK (bench parity);
  * every multi-executor master string gets the one-replica level that
  * makes a single executor death survivable (the r13 kill sweep showed
  * the unreplicated level losing truncated-lineage blocks
  * irrecoverably: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on HITS).
  *
  * Also pins the size an `lckpt` leaf reports: the bytes the block
  * manager master holds for the leaf's RDD, whichever way the optimizer's
  * estimate of the same plan is wrong.
  */
class CkptSpec extends SparkSpec {

  test("single-JVM master strings resolve to the stock unreplicated level") {
    assert(Ckpt.singleJvm("local"))
    assert(Ckpt.singleJvm("local[4]"))
    assert(Ckpt.singleJvm("local[*]"))
    assert(Ckpt.singleJvm("local[32,3]")) // retry variant
  }

  test("multi-executor master strings resolve to the replicated level") {
    assert(!Ckpt.singleJvm("local-cluster[2,4,2048]"))
    assert(!Ckpt.singleJvm("spark://host:7077"))
    assert(!Ckpt.singleJvm("yarn"))
    assert(!Ckpt.singleJvm("k8s://https://host:6443"))
  }

  test("levelFor pins concrete levels per master string and override state") {
    // unit-level, stubbed master: NOT routed through singleJvm here, so a
    // regression in either the predicate or the level choice is caught
    // (the old test recomputed `expected` via the same branch — tautology)
    assert(Ckpt.levelFor("local", noReplica = false) === StorageLevel.MEMORY_AND_DISK)
    assert(Ckpt.levelFor("local[32]", noReplica = false) === StorageLevel.MEMORY_AND_DISK)
    assert(Ckpt.levelFor("local[4,2]", noReplica = false) === StorageLevel.MEMORY_AND_DISK)
    assert(Ckpt.levelFor("local-cluster[2,8,4096]", noReplica = false) === StorageLevel.DISK_ONLY_2)
    assert(Ckpt.levelFor("spark://host:7077", noReplica = false) === StorageLevel.DISK_ONLY_2)
    assert(Ckpt.levelFor("yarn", noReplica = false) === StorageLevel.DISK_ONLY_2)
    assert(Ckpt.levelFor("k8s://https://host:6443", noReplica = false) === StorageLevel.DISK_ONLY_2)
    // SPARK_GRAFT_CKPT_NO_REPLICA=1 (the kill-sweep A/B hook) forces the
    // unreplicated level on every master
    assert(Ckpt.levelFor("local-cluster[2,8,4096]", noReplica = true) === StorageLevel.MEMORY_AND_DISK)
    assert(Ckpt.levelFor("spark://host:7077", noReplica = true) === StorageLevel.MEMORY_AND_DISK)
  }

  test("lckpt cuts lineage and preserves content under the live master") {
    import Ckpt._
    val df = spark.range(100).toDF("id")
    // level() must agree with the stubbed resolution for the LIVE master
    // + LIVE env (works under local[4] and the cross-JVM rehearsal's
    // local-cluster, with or without the A/B override set)
    val noRep = sys.env.get("SPARK_GRAFT_CKPT_NO_REPLICA").contains("1")
    assert(Ckpt.level(df) === Ckpt.levelFor(spark.sparkContext.master, noRep))
    val c = df.lckpt()
    assert(c.count() === 100L)
    assert(c.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) === 4950L)
  }

  private def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The checkpoint leaf of `c` and the size it reports. */
  private def leafOf(c: DataFrame): (LogicalRDD, BigInt) = {
    val leaf = c.queryExecution.optimizedPlan.collectFirst { case l: LogicalRDD => l }.get
    (leaf, leaf.stats.sizeInBytes)
  }

  private def mem(bytes: Long) = BlockStatus(StorageLevel.MEMORY_AND_DISK, bytes, 0L)

  test("storedSize sums one copy per partition and falls back when a block is missing") {
    val dflt = 1234L
    assert(CatalystBridge.storedSize(Seq(Seq(mem(10)), Seq(mem(20))), dflt) === BigInt(30))
    // memory and disk bytes of one block add up
    assert(CatalystBridge.storedSize(
      Seq(Seq(BlockStatus(StorageLevel.MEMORY_AND_DISK, 7L, 5L))), dflt) === BigInt(12))
    // a replicated partition counts its largest copy once
    val disk2 = StorageLevel.DISK_ONLY_2
    assert(CatalystBridge.storedSize(Seq(
      Seq(BlockStatus(disk2, 0L, 40L), BlockStatus(disk2, 0L, 40L)),
      Seq(BlockStatus(disk2, 0L, 9L), BlockStatus(disk2, 0L, 11L))), dflt) === BigInt(51))
    // a block with no bytes is present; a partition with no block is not
    assert(CatalystBridge.storedSize(Seq(Seq(mem(0)), Seq(mem(3))), dflt) === BigInt(3))
    assert(CatalystBridge.storedSize(Seq(Seq(mem(10)), Seq()), dflt) === BigInt(dflt))
    assert(CatalystBridge.storedSize(Seq(), dflt) === BigInt(0))
  }

  test("a leaf over a join whose estimate is far above its rows reports the stored bytes") {
    import Ckpt._
    // without CBO a join is estimated at the product of its sides
    val joined = spark.range(1000).join(spark.range(1000).withColumnRenamed("id", "k"),
      col("id") === col("k"))
    val (leaf, size) = leafOf(joined.lckpt())
    val stored = StoredBytes.of(leaf.rdd)
    assert(stored.isDefined)
    assert(size === BigInt(stored.get))
    assert(estimate(joined) > size * 10, s"estimate ${estimate(joined)} vs stored $size")
  }

  test("a leaf over an explode whose estimate is below its rows reports the stored bytes") {
    import Ckpt._
    // an explode is estimated at its input's size: 20 rows, not 10,000
    val exploded = spark.range(20).select(col("id"), explode(sequence(lit(1), lit(500))).as("x"))
    val (leaf, size) = leafOf(exploded.lckpt())
    val stored = StoredBytes.of(leaf.rdd)
    assert(stored.isDefined)
    assert(size === BigInt(stored.get))
    assert(estimate(exploded) * 10 < size, s"estimate ${estimate(exploded)} vs stored $size")
  }

  test("50 back-to-back checkpoints of small frames report their stored bytes, never 0") {
    import Ckpt._
    for (n <- 1 to 50) {
      val df = spark.range(n).select(col("id"), (col("id") * 3).as("v"))
      val (leaf, size) = leafOf(df.lckpt())
      assert(size > 0, s"n=$n")
      assert(size !== estimate(df), s"n=$n")
      assert(StoredBytes.of(leaf.rdd).map(BigInt(_)) === Some(size), s"n=$n")
    }
  }
}
