package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ArtifactStoreSpec extends SparkSpec {
  import spark.implicits._

  private var builds = 0
  private def buildOnce() = {
    builds += 1
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (1L, 11L)).toDF("k", "v")
  }

  test("build-once, read-from-store thereafter; rebuild only on fingerprint change") {
    val name = s"spec_art_${System.nanoTime()}"
    val a = ArtifactStore.bucketed(spark, name, "fp-1", "k", 2)(buildOnce())
    assert(builds == 1)
    assert(a.orderBy("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L)))
    // same fingerprint: the store answers, the build closure never runs
    val b = ArtifactStore.bucketed(spark, name, "fp-1", "k", 2) {
      fail("build must not run when the fingerprint is current")
    }
    assert(b.count() == 4)
    // changed fingerprint: rebuild
    ArtifactStore.bucketed(spark, name, "fp-2", "k", 2)(buildOnce())
    assert(builds == 2)
  }

  test("the store read is a BUCKETED scan (catalog carries the bucket spec)") {
    val name = s"spec_art_bkt_${System.nanoTime()}"
    ArtifactStore.bucketed(spark, name, "fp", "k", 4)(
      Seq((1L, 1L), (2L, 2L)).toDF("k", "v"))
    val cat = spark.sql(s"DESCRIBE TABLE EXTENDED graft_art_$name")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
    assert(cat.contains("Num Buckets=4"), cat)
    assert(cat.contains("Bucket Columns") && cat.contains("`k`"), cat)
  }

  test("a fresh catalog re-registers from the stored DDL (cross-process read path)") {
    val name = s"spec_art_reg_${System.nanoTime()}"
    ArtifactStore.bucketed(spark, name, "fp", "k", 2)(
      Seq((5L, 50L)).toDF("k", "v"))
    // simulate the next process: the files + meta survive, the catalog
    // entry does not
    spark.sql(s"DROP TABLE graft_art_$name")
    val back = ArtifactStore.bucketed(spark, name, "fp", "k", 2) {
      fail("re-registration must not rebuild")
    }
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 50L)))
    assert(spark.catalog.tableExists(s"graft_art_$name"))
  }

  test("bucketed store scan satisfies a group-by on the bucket column with NO shuffle") {
    // the 100 TB payoff of bucketBy(u): the scan reports
    // hashpartitioning(u, 8), so a per-node aggregate (the walk loop's
    // per-u rank probe shape) needs no Exchange at any corpus size
    val adj = graft.sources.TpchGraph.storedRankedAdjacency(spark, sf)
    val p = adj.groupBy("u").count().queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(adj.count() > 0)
  }

  test("ranked adjacency is exactly the mirrored co-purchase half edge set, recomputed from the fact table") {
    // artifact-fed session memos make artifact CONTENT the correctness
    // root for the whole co-purchase family: a wrong artifact would
    // propagate everywhere the memos reach
    import graft.sources.TpchGraph
    val li = TpchGraph.lineitemDeduped(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
    val nHalf = li.join(li.withColumnsRenamed(Map("p" -> "p2")), "k")
      .filter(col("p") < col("p2"))
      .select(col("p").as("u"), col("p2").as("v")).distinct().count()
    assert(nHalf > 0)
    val adj = TpchGraph.storedRankedAdjacency(spark, sf)
    assert(adj.count() == 2 * nHalf)
    assert(adj.select("u", "v").distinct().count() == 2 * nHalf)
    assert(TpchGraph.copurchaseEdges(spark, sf).count() == nHalf)
    assert(TpchGraph.copurchaseEdgesMirrored(spark, sf).count() == 2 * nHalf)
  }

  test("a truncated/corrupt meta file triggers a clean rebuild, not a bad read") {
    val name = s"spec_art_corrupt_${System.nanoTime()}"
    ArtifactStore.bucketed(spark, name, "fp", "k", 2)(Seq((1L, 2L)).toDF("k", "v"))
    // simulate a crash between fingerprint write and DDL line: one-line meta
    val meta = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS", ""), s"$name.meta")
    // locate the real meta via the registered table's location parent
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED graft_art_$name")
      .collect().find(_.getString(0) == "Location").get.getString(1)
    val metaPath = java.nio.file.Paths.get(new java.net.URI(loc)).getParent
      .resolve(s"$name.meta")
    java.nio.file.Files.write(metaPath, "fp\n".getBytes) // fingerprint line only, no DDL
    spark.sql(s"DROP TABLE graft_art_$name") // next process: no catalog entry either
    var rebuilt = false
    val back = ArtifactStore.bucketed(spark, name, "fp", "k", 2) {
      rebuilt = true; Seq((1L, 2L)).toDF("k", "v")
    }
    assert(rebuilt, "incomplete meta must be treated as stale")
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("a changed bucket spec is STALE even when sources are unchanged") {
    // without the spec in the meta, files written INTO 2 BUCKETS would be
    // re-registered as 4-bucket — Spark then elides exchanges the files
    // don't satisfy: silently wrong joins/aggs on the bucket column
    val name = s"spec_art_spec_${System.nanoTime()}"
    var builds2 = 0
    def build() = { builds2 += 1; Seq((1L, 10L), (2L, 20L)).toDF("k", "v") }
    ArtifactStore.bucketed(spark, name, "fp", "k", 2)(build())
    assert(builds2 == 1)
    // same fingerprint, more buckets: must rebuild, and the catalog must
    // carry the NEW spec
    val a = ArtifactStore.bucketed(spark, name, "fp", "k", 4)(build())
    assert(builds2 == 2, "changed nBuckets must invalidate")
    val cat = spark.sql(s"DESCRIBE TABLE EXTENDED graft_art_$name")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
    assert(cat.contains("Num Buckets=4"), cat)
    assert(a.count() == 2)
    // same fingerprint, different bucket COLUMN: also a rebuild
    ArtifactStore.bucketed(spark, name, "fp", "v", 4)(build())
    assert(builds2 == 3, "changed bucketCol must invalidate")
  }

  test("a rebuild takes and RELEASES the cross-process lock file") {
    // two processes sharing one SPARK_GRAFT_ARTIFACTS root serialize
    // refreshes on <name>.lock (OS file lock; same-JVM threads are
    // already serialized by `synchronized`). After bucketed() returns,
    // the lock must be free — a leaked lock would deadlock the next
    // refresh in every other process until this JVM dies.
    val name = s"spec_art_lock_${System.nanoTime()}"
    ArtifactStore.bucketed(spark, name, "fp", "k", 2)(
      Seq((1L, 2L)).toDF("k", "v"))
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED graft_art_$name")
      .collect().find(_.getString(0) == "Location").get.getString(1)
    val lockPath = java.nio.file.Paths.get(new java.net.URI(loc)).getParent
      .resolve(s"$name.lock")
    assert(java.nio.file.Files.exists(lockPath), "lock file created by the rebuild")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val l = ch.tryLock()
      assert(l != null, "lock must be RELEASED after bucketed() returns")
      l.release()
    } finally ch.close()
  }

  test("sourceFingerprint sees files in NESTED partition subdirectories") {
    // a partitioned layout's in-place rewrite changes a leaf file, not
    // necessarily the parent dir entry a flat listing fingerprints
    val dir = TempStores.scratchDir("art-fp-nested-")
    val tbl = java.nio.file.Paths.get(dir, "tbl.parquet", "part=a")
    java.nio.file.Files.createDirectories(tbl)
    val leaf = tbl.resolve("data.bin")
    java.nio.file.Files.write(leaf, "aaa".getBytes)
    val fp1 = ArtifactStore.sourceFingerprint(dir, Seq("tbl"))
    java.nio.file.Files.write(leaf, "bbbb".getBytes) // leaf-only size change
    assert(ArtifactStore.sourceFingerprint(dir, Seq("tbl")) != fp1)
  }

  test("sourceFingerprint changes when a source file changes, not when queried twice") {
    val dir = TempStores.scratchDir("art-fp-spec-")
    val f = java.nio.file.Paths.get(dir, "tbl.parquet")
    java.nio.file.Files.write(f, "aaa".getBytes)
    val fp1 = ArtifactStore.sourceFingerprint(dir, Seq("tbl"))
    val fp2 = ArtifactStore.sourceFingerprint(dir, Seq("tbl"))
    assert(fp1 == fp2)
    java.nio.file.Files.write(f, "aaaa".getBytes) // size change
    assert(ArtifactStore.sourceFingerprint(dir, Seq("tbl")) != fp1)
    // an absent table is part of the fingerprint, not an error
    val fpAbsent = ArtifactStore.sourceFingerprint(dir, Seq("tbl", "ghost"))
    assert(fpAbsent != fp1)
  }
}
