package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent MAINTAINED-ARTIFACT store: derived graph tables (ranked
  * adjacency, weighted co-purchase edges, transition counts) written once
  * as BUCKETED parquet and re-read by every later consumer — the durable
  * form of the process-local `TpchGraph` memos, which vanish on restart
  * and therefore made "built once, reused across exports" a posture
  * rather than an API.
  *
  * Deployment shape (100 TB posture): at scale these artifacts live as
  * bucketed tables in the lake, refreshed when their source tables
  * change; consumers join/group on the bucket column WITHOUT a shuffle
  * (bucketed scan). This store reproduces exactly that: `bucketBy` +
  * `sortBy` on the artifact's join key via `saveAsTable` (bucket
  * metadata lives in the catalog, not the files), an external LOCATION
  * under the store root, and a SOURCE FINGERPRINT invalidation rule —
  * the artifact is rebuilt iff the source parquet footprint (file names,
  * sizes, mtimes) changed, the same freshness contract a lakehouse
  * refresh job keys on.
  *
  * Store root: `SPARK_GRAFT_ARTIFACTS` (a real deployment points this at
  * durable storage); otherwise a per-process scratch dir — tests and
  * bench runs then exercise the full write-bucketed + read-back path
  * with automatic cleanup.
  */
object ArtifactStore {

  private lazy val root: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS", TempStores.scratchDir("graft-artifacts-"))

  /** The resolved store root — what a second process must receive as
    * `SPARK_GRAFT_ARTIFACTS` to share this store (the cross-process
    * specs use it to point their child JVMs here).
    */
  def storeRoot: String = root

  /** Fingerprint of the artifact's SOURCE tables: relative path, size,
    * and mtime of every data file under each source dir — the full tree
    * ([[java.nio.file.Files.walk]]), so a partitioned/nested layout's
    * in-place file rewrite (which may not touch the parent dir's mtime)
    * still invalidates. Cheap (a directory walk — no data read) and
    * exactly the signal an incremental refresh job keys on: any rewrite,
    * compaction, or append changes it.
    */
  def sourceFingerprint(sfDir: String, tables: Seq[String]): String = {
    val parts = tables.sorted.flatMap { t =>
      val p = java.nio.file.Paths.get(sfDir, s"$t.parquet")
      if (!java.nio.file.Files.exists(p)) Seq(s"$t:absent")
      else if (java.nio.file.Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq
          .filter(java.nio.file.Files.isRegularFile(_))
          .filterNot(_.getFileName.toString.startsWith("_"))
          .sortBy(_.toString)
          .map(f => s"${p.relativize(f)}:${java.nio.file.Files.size(f)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
        finally walk.close()
      } else Seq(s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
        s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((sfDir + "|" + parts.mkString("|")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def metaPath(name: String) = java.nio.file.Paths.get(root, s"$name.meta")
  private def dataPath(name: String) = java.nio.file.Paths.get(root, name)

  /** Catalog-safe table name for an artifact. */
  private def tableName(name: String) = s"graft_art_${name.replaceAll("[^A-Za-z0-9_]", "_")}"

  /** Row count of a stored artifact as recorded at its last rebuild
    * (meta line 4). `None` for artifacts written before counts were
    * recorded — callers must treat that as "mass unknown" and take
    * their conservative default, never as zero. Read lock-free: a
    * concurrent foreign rebuild can at worst yield a just-stale count,
    * which only mis-picks a physical plan, never an answer.
    */
  def rowCount(name: String): Option[Long] = {
    val p = metaPath(name)
    if (!java.nio.file.Files.exists(p)) None
    else
      try {
        val lines = java.nio.file.Files.readAllLines(p)
        if (lines.size < 4) None else Some(lines.get(3).trim.toLong)
      } catch { case _: Throwable => None }
  }

  /** Meta-file text this JVM last registered per table, so a FOREIGN
    * rebuild (another process refreshed the artifact since we created
    * our catalog entry) is detected on the next `bucketed()` call: the
    * stale entry carries the old schema/bucket DDL and — worse —
    * Spark's cached file listing for the table can still reference the
    * deleted pre-rebuild files. On mismatch the entry is dropped,
    * re-created from the new meta, and `refreshTable` clears the cached
    * FileIndex/statistics.
    */
  private val registeredMeta = scala.collection.mutable.Map.empty[String, String]

  /** Read the artifact from the store if its recorded source fingerprint
    * is current; otherwise (re)build it, write it bucketed, and read it
    * back. The returned DataFrame ALWAYS scans the store (never the
    * build plan), so every consumer — including the first after a
    * rebuild — exercises the same bucketed read path the deployment
    * would. Concurrency: `synchronized` serializes threads of THIS JVM;
    * an OS file lock serializes PROCESSES sharing one
    * `SPARK_GRAFT_ARTIFACTS` root — a SHARED lock around the
    * currency-check + register read path (so a reader can't interleave
    * with a concurrent rebuild's delete/rewrite of the same data dir),
    * an EXCLUSIVE lock around the stale→rebuild window. Currency is
    * RE-CHECKED after each lock grant: the usual outcome of losing the
    * refresh race is that the winner already rebuilt, and the loser
    * must read, not rebuild again; a reader whose shared-lock re-check
    * finds the artifact gone stale loops back for the exclusive lock.
    * (Scan-time is still lazy: a job that holds the returned DataFrame
    * across a later foreign refresh re-validates on its next
    * `bucketed()` call, the store's freshness boundary.)
    */
  def bucketed(spark: SparkSession, name: String, fingerprint: String,
               bucketCol: String, nBuckets: Int)(build: => DataFrame): DataFrame =
    synchronized {
      val tbl = tableName(name)
      val meta = metaPath(name)
      val data = dataPath(name)
      // staleness covers the BUCKET SPEC, not just the sources: files
      // written under an old (bucketCol, nBuckets) re-registered with a
      // new spec would let Spark elide exchanges the files don't satisfy
      // — silently wrong joins/aggregates on the bucket column. A spec
      // mismatch is a rebuild, same as a source change.
      def metaText: String =
        if (!java.nio.file.Files.exists(meta)) ""
        else new String(java.nio.file.Files.readAllBytes(meta), "UTF-8")
      def isCurrent =
        java.nio.file.Files.exists(meta) && java.nio.file.Files.exists(data) && {
          val lines = java.nio.file.Files.readAllLines(meta)
          lines.size >= 3 && lines.get(0) == fingerprint &&
            lines.get(2) == s"$bucketCol:$nBuckets"
        }
      def register(): Unit = {
        val txt = metaText
        if (spark.catalog.tableExists(tbl) && !registeredMeta.get(tbl).contains(txt)) {
          // registered earlier, but the on-disk meta changed since: a
          // foreign process rebuilt the artifact. The catalog entry's
          // DDL and cached file listing describe deleted files — drop
          // and re-register from the NEW meta.
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
        }
        if (!spark.catalog.tableExists(tbl)) {
          // a fresh process inherits the files but not the in-memory
          // catalog entry; the stored DDL carries schema + bucket spec
          val ddl = java.nio.file.Files.readAllLines(meta).get(1)
          spark.sql(s"""CREATE TABLE $tbl ($ddl) USING PARQUET
            CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $nBuckets BUCKETS
            LOCATION '${data.toUri}'""")
          spark.catalog.refreshTable(tbl)
        }
        registeredMeta(tbl) = txt
      }
      def rebuild(): Unit = {
        val df = build
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        java.nio.file.Files.deleteIfExists(meta)
        org.apache.commons.io.FileUtils.deleteQuietly(data.toFile)
        df.write.format("parquet")
          .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
          .option("path", data.toString)
          .mode("overwrite")
          .saveAsTable(tbl)
        // meta line 4: the artifact's row count, taken from the WRITTEN
        // table (an empty-schema parquet scan — footer-driven, no column
        // decode). Physical-plan choices that depend on the standing
        // artifact's MASS (e.g. the incremental-triangle merged-vs-split
        // crossover) read this instead of re-counting per query — the
        // count is a property of the refresh, not of the consumer.
        val nRows = spark.table(tbl).count()
        java.nio.file.Files.createDirectories(meta.getParent)
        java.nio.file.Files.write(meta,
          (fingerprint + "\n" + df.schema.toDDL + "\n" +
            s"$bucketCol:$nBuckets" + "\n" + nRows + "\n").getBytes("UTF-8"))
        registeredMeta(tbl) = metaText
      }
      val lockPath = java.nio.file.Paths.get(root, s"$name.lock")
      java.nio.file.Files.createDirectories(lockPath.getParent)
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.READ,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var done = false
        while (!done) {
          if (isCurrent) {
            // shared lock: many readers may validate + register
            // concurrently, but none may overlap a rebuilder's
            // delete/rewrite window
            val lock = ch.lock(0L, Long.MaxValue, true)
            try {
              if (isCurrent) { register(); done = true }
              // else: went stale between the unlocked peek and the
              // grant — loop around for the exclusive path
            } finally lock.release()
          } else {
            val lock = ch.lock() // exclusive; blocks until any refresh completes
            try {
              if (isCurrent) register() // loser of the race: winner already rebuilt
              else rebuild()
              done = true
            } finally lock.release()
          }
        }
      } finally ch.close()
      spark.table(tbl)
    }
}
