package graft.core

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** Pins the deployment-resolved lineage-cut storage level: single-JVM
  * masters keep localCheckpoint's stock MEMORY_AND_DISK (bench parity);
  * every multi-executor master string gets the one-replica level that
  * makes a single executor death survivable (the r13 kill sweep showed
  * the unreplicated level losing truncated-lineage blocks
  * irrecoverably: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on HITS).
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
}
