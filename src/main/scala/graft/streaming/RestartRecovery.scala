package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint RESTART-RECOVERY driver: the durability half of the state
  * store contract. Every other streaming surface in this engine drains
  * start-to-finish in one process; this harness stops a query after a
  * COMMITTED microbatch — with all stateful-operator state (open
  * sessions, window partials, watermark) live in the checkpoint — and
  * restarts the same query definition against the same checkpoint + file
  * sink, staging the remaining input only for the second incarnation.
  * The contract under test: the two-incarnation output is IDENTICAL to
  * an uninterrupted run (exactly-once across restarts: recovered state,
  * recovered watermark, file-sink commit log deduplication), under both
  * the HDFS-backed and RocksDB state store providers.
  *
  * Input staging reuses [[EventStream.stagedEventsWithSentinel]]'s two
  * files: the real events land in incarnation one (the state-building
  * batch), the far-future sentinel in incarnation two (the
  * watermark-advancing flush batch) — so for append-mode stateful
  * queries EVERY group's state crosses the restart boundary, the
  * strongest form of the recovery claim.
  *
  * Sink: parquet file sink (append mode), the one sink whose
  * exactly-once story spans restarts (the `_spark_metadata` commit log);
  * a memory sink forgets its rows with the process. Results are read
  * back through that log.
  */
object RestartRecovery {

  /** Run `build(source)` over the staged `<events, sentinel>` pair and
    * return the file-sink output. `interrupt = true` stops the query
    * after the events batch commits and restarts it from the checkpoint
    * for the sentinel batch; `false` drains in one incarnation (the
    * reference run). The sentinel's rows (`user_id == -1`) are filtered
    * from the returned frame.
    *
    * `betweenIncarnations` (interrupted runs only) fires after the first
    * incarnation stops and before the second starts — the fault-
    * injection point for composing restart recovery with infrastructure
    * loss (the spec kills an executor JVM there, proving recovered state
    * comes from the CHECKPOINT, not from any executor-resident artifact
    * of incarnation one — RocksDB working dirs, cached state store
    * maps, shuffle files all die with the executor and must not matter).
    */
  def run(spark: SparkSession, sfDir: String, interrupt: Boolean,
          betweenIncarnations: () => Unit = () => ())
         (build: DataFrame => DataFrame): DataFrame = {
    val (staged, schema) = EventStream.stagedEventsWithSentinel(spark, sfDir)
    val work = new java.io.File(graft.core.TempStores.scratchDir("graft-restart-"))
    val srcDir = new java.io.File(work, "src"); srcDir.mkdirs()
    val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
    val out = new java.io.File(work, "out").getAbsolutePath

    def stage(fileName: String, mtime: Long): Unit = {
      val from = new java.io.File(staged, fileName).toPath
      val to = new java.io.File(srcDir, fileName).toPath
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      to.toFile.setLastModified(mtime); ()
    }
    val t0 = System.currentTimeMillis()

    def startQuery() = {
      val source = graft.sources.TpchGraph.normalizeTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.getAbsolutePath))
      graft.core.Conf.scoped(spark)(
          "spark.sql.shuffle.partitions" -> EventStream.StatePartitions.toString) {
        build(source).writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .start()
      }
    }

    stage("00_events.parquet", t0)
    if (interrupt) {
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      betweenIncarnations()
      stage("01_sentinel.parquet", t0 + 60000L)
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
    } else {
      stage("01_sentinel.parquet", t0 + 60000L)
      val q = startQuery()
      try q.processAllAvailable() finally q.stop()
    }
    val result = spark.read.parquet(out)
    if (result.columns.contains("user_id")) result.filter(col("user_id") =!= -1L)
    else result
  }
}
