package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming ingest of the `events` table (the reference has no
  * streaming surface — SURVEY §2.9 — so this is the engine's
  * streaming-shaped extension: append-only event ingest with windowed
  * aggregation and watermarking).
  *
  * The same transformation runs identically on a batch DataFrame (the
  * Dataset API is the unifying layer); the local smoke path drives a
  * bounded parquet file through a memory sink with
  * `processAllAvailable()`.
  */
object EventStream {

  /** Shared streaming events source: file-stream over `events.parquet`
    * with `ts` normalized to microsecond `TimestampType` via
    * [[graft.sources.TpchGraph.normalizeTs]] — schema-adaptive across the
    * generator's two physical encodings (legacy int64 nanos vs native
    * `timestamp[us]`), so the streaming path and the batch
    * `TpchGraph.events` reader apply one contract. The file-stream source
    * requires a directory path, so glob-filter within `sfDir`.
    */
  private def eventSource(spark: SparkSession, sfDir: String): DataFrame = {
    // before schema inference: a TIMESTAMP(NANOS) footer fails otherwise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val src = new java.io.File(s"$sfDir/events.parquet")
    val stream =
      if (src.isDirectory)
        // Spark-written table dir (ScaleData tiles): stream the dir
        // itself — the glob filter below matches leaf FILE names, so
        // against a dir layout it matches nothing and the stream
        // silently drains empty (r14 skewed-tile oracle catch)
        spark.readStream.schema(schema).parquet(src.getAbsolutePath)
      else
        // driver layout: one file per table directly under sfDir — the
        // file-stream source needs a directory, so glob-filter within it
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir)
    graft.sources.TpchGraph.normalizeTs(stream)
  }

  /** Streaming state partition count: the shuffle width a stateful query
    * fixes at start. It should track KEY cardinality (event_type × open
    * windows — tens of keys), not the batch-side shuffle width: every
    * state partition pays a store commit per microbatch regardless of
    * data.
    */
  private[streaming] val StatePartitions = 4

  /** Start `result` as a memory-sink query named `name` at
    * [[StatePartitions]], drain it synchronously, stop it and return the
    * sink table. Only `start()` runs in the conf scope: the query's cloned
    * session captures the width there.
    */
  private def drainToMemory(spark: SparkSession, name: String, outputMode: String)
                           (result: => Dataset[_]): DataFrame = {
    val q = graft.core.Conf.scoped(spark)(
        "spark.sql.shuffle.partitions" -> StatePartitions.toString) {
      result.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  /** Hourly tumbling-window counts + value sums per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Run [[hourlyAgg]] as a real streaming query over the parquet file,
    * complete-mode memory sink, synchronously drained. Returns the final
    * result table (identical to the batch answer — verified by the
    * DuckDB oracle).
    */
  def runHourlyStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventSource(spark, sfDir)
    val drained = drainToMemory(spark, "graft_stream_hourly", "complete") {
      hourlyAgg(stream)
    }
    drained.orderBy("hour_start", "event_type")
  }

  /** Spark's BUILT-IN stateful stream dedup (`dropDuplicates` over the
    * state store) as the standard-operator counterpart of the custom
    * MinHash [[StreamingDedup]]: keep the first-arriving event per
    * (user_id, event_type), then roll the kept rows up per type. The
    * rollup counts are deterministic even though which duplicate "wins"
    * inside a microbatch is not — the oracle checks the count contract
    * (= COUNT(DISTINCT user_id) per type), which is the invariant the
    * operator guarantees. Bounded input keeps state finite here; a
    * production stream bounds it with `dropDuplicatesWithinWatermark`.
    */
  def runDistinctStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventSource(spark, sfDir)
    val drained = drainToMemory(spark, "graft_stream_distinct", "append") {
      stream.dropDuplicates("user_id", "event_type")
    }
    drained
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** [[runDistinctStream]]'s production form: `dropDuplicatesWithinWatermark`
    * bounds the dedup state by EVENT TIME — a key's state is dropped once
    * the watermark passes its last-seen timestamp plus the delay, so state
    * size tracks the duplicate-arrival window instead of growing with
    * total distinct keys forever (the unbounded `dropDuplicates` problem
    * at 100 TB/day). With a delay spanning the whole bounded test file,
    * no state expires mid-run and the kept set equals plain distinct —
    * which is what the oracle checks; in production the delay is the
    * source's real duplicate-lag bound.
    */
  def runDistinctWithinWatermarkStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventSource(spark, sfDir).withWatermark("ts", "3650 days")
    val drained = drainToMemory(spark, "graft_stream_distinct_wm", "append") {
      stream.dropDuplicatesWithinWatermark("user_id", "event_type")
    }
    drained
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** Stream-stream INTERVAL join — the attribution join every event
    * pipeline runs (view→purchase within 10 minutes, impression→click,
    * prompt→completion): two streams off the same source, each
    * watermarked, joined on the key plus an event-time range. The time
    * bound + watermarks are what make the state PRUNABLE: a buffered
    * view can be dropped once the purchase-side watermark passes
    * `view.ts + 10 min` — without them the join would buffer both
    * streams forever. Inner-join matches emit as soon as both sides
    * arrive (append mode); the watermark only governs state eviction,
    * so the drained result equals the batch interval join exactly.
    *
    * Returns the per-day rollup of matched pairs (count, distinct
    * users, milli-exact value sum) — identical to the DuckDB interval
    * join over the same parquet.
    */
  def runIntervalJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    def side(eventType: String) = eventSource(spark, sfDir)
      .filter(col("event_type") === eventType)
      .withWatermark("ts", "1 hour")
    val views = side("view").select(
      col("user_id").as("v_user"), col("ts").as("view_ts"))
    val purchases = side("purchase").select(
      col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    val drained = drainToMemory(spark, "graft_stream_interval_join", "append") {
      views.join(purchases,
          col("v_user") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("interval 10 minutes"))
        .select(col("p_user").as("user_id"), col("purchase_ts"), col("value"))
    }
    drained
      .groupBy(date_format(col("purchase_ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 1000).cast("long")).as("sum_value_milli"))
      .orderBy("day")
  }

  /** Stream-stream LEFT OUTER interval join — the attribution query's
    * other half: every view either matches a purchase within 10 minutes
    * or emits a NULL-extended row, and the null rows are the
    * watermark-DEPENDENT part (Spark can only declare a view unmatched
    * once the purchase-side watermark passes `view_ts + 10 min`; inner
    * matches emit immediately). That makes the outer join the operator
    * that genuinely exercises watermark-driven state eviction: on a
    * bounded source the last views' verdicts would sit in state forever
    * without the far-future sentinel file advancing the final watermark
    * ([[stagedEventsWithSentinel]], shared with the timeout
    * sessionizer). Both sides derive from ONE watermarked scan —
    * `withWatermark` sits BELOW the event-type filters, so the sentinel
    * advances the watermark regardless of which type filter it would
    * pass. Drained result rolls up per day: views, matched, unmatched
    * (the conversion-gap number an attribution pipeline reports), and
    * matched value — equal to the batch LEFT JOIN, which is the oracle.
    */
  def runIntervalLeftJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (staged, schema) = stagedEventsWithSentinel(spark, sfDir)
    val base = graft.sources.TpchGraph.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.getAbsolutePath))
      .withWatermark("ts", "0 seconds")
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    val drained = drainToMemory(spark, "graft_stream_interval_left_join", "append") {
      views.join(purchases,
          col("v_user") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("interval 10 minutes"),
          "left_outer")
    }
    drained
      .filter(col("v_user") >= 0) // drop the sentinel's own row
      .groupBy(date_format(col("view_ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_ts")).as("n_matched"),
        (count(lit(1)) - count(col("purchase_ts"))).as("n_unmatched"),
        coalesce(sum(round(col("value") * 1000).cast("long")), lit(0L))
          .as("sum_value_milli"))
      .orderBy("day")
  }

  /** Stream-STATIC enrichment join — the other half of the streaming
    * join story next to [[runIntervalJoinStream]]: a purchase stream
    * enriched against a static dimension (customer → nation) and rolled
    * up per nation. Stream-static inner joins are STATELESS — each
    * microbatch probes the static side like a batch join, nothing
    * buffers, no watermark is involved — and the dimension broadcasts,
    * so enrichment costs zero shuffle on the stream side. The
    * complete-mode aggregate then holds one row per nation (tiny keyed
    * state). This is how a 100 TB/day event feed picks up dimensions:
    * broadcast the dim, never shuffle the stream.
    */
  def runStreamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventSource(spark, sfDir)
      .filter(col("event_type") === "purchase")
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .join(spark.read.parquet(s"$sfDir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val drained = drainToMemory(spark, "graft_stream_static_join", "complete") {
      stream.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 1000).cast("long")).as("sum_value_milli"))
    }
    drained.orderBy("n_name")
  }

  /** Sessionization with Spark's NATIVE `session_window` — the built-in
    * merging-window aggregate, next to the two hand-rolled forms (batch
    * `lag`+running-sum in [[sessionizeBatch]], custom state in
    * [[sessionizeStateful]]). Timestamps are second-truncated before
    * windowing and the gap is 1801 s, which makes the native semantics
    * ("merge while next < last + gap") coincide exactly with the batch
    * form's "new session when integer-second diff > 1800": on whole
    * seconds, `diff <= 1800` ⟺ `diff < 1801`. Complete-mode memory sink
    * (session windows don't support update mode; append would hold the
    * final sessions back until a later watermark advance that never
    * comes on a bounded source), so the drained table is the full
    * session set and must equal the batch answer row for row.
    */
  def runSessionWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventSource(spark, sfDir)
      .withColumn("ts", date_trunc("second", col("ts")))
    val drained = drainToMemory(spark, "graft_stream_sessions", "complete") {
      stream
        .groupBy(col("user_id"), session_window(col("ts"), "1801 seconds").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))
    }
    drained.orderBy("user_id", "session_start")
  }

  // ------------------------------------------------------- sessionization

  final case class SessionEvent(user_id: Long, tsMicros: Long, value: Double)
  final case class Session(user_id: Long, session_start: String, n_events: Long, sum_value: Double)
  final case class SessState(startMicros: Long, lastMicros: Long, n: Long, sum: Double)
  /** [[SessionEvent]] plus the raw event-time column — the watermark
    * annotation must survive to the stateful operator's input, so the
    * timeout variant keeps `ts` in the typed row.
    */
  final case class SessionEventWm(user_id: Long, tsMicros: Long, value: Double,
                                  ts: java.sql.Timestamp)

  /** PRODUCTION-form stateful sessionization: `flatMapGroupsWithState`
    * with EVENT-TIME TIMEOUT — sessions flush incrementally as the
    * watermark passes `last event + gap`, so state holds only OPEN
    * sessions (the form [[sessionizeStateful]]'s NoTimeout smoke path
    * defers to). Bounded-source mechanics: the stream reads a staged
    * two-file directory — the real events, then a far-future SENTINEL
    * event (`maxFilesPerTrigger=1` forces two microbatches) — so the
    * final watermark advance fires every remaining timeout and the
    * drained result equals the batch answer exactly (sentinel user
    * filtered from the output; p111's oracle is p14's session SQL
    * verbatim). Timeout timestamps clamp to `watermark + 1 ms` when a
    * session's gap deadline is already past — Spark rejects timestamps
    * at or before the current watermark.
    */
  /** Stage `<events, sentinel>` for watermark-draining bounded-source
    * streams (used by the event-time-timeout sessionization AND the
    * outer interval join — any append-mode stateful query whose final
    * rows only emit when the watermark passes them needs the far-future
    * sentinel to fire). Returns the staged directory + source schema.
    */
  private[streaming] def stagedEventsWithSentinel(
      spark: SparkSession, sfDir: String
  ): (java.io.File, org.apache.spark.sql.types.StructType) = {
    // ---- stage <events, sentinel> with strictly increasing mtimes.
    // The stage directory is VERSIONED by the source file's identity
    // (mtime + size in the name), so staleness never has to be probed
    // and — more important — an old stage is never deleted while a
    // concurrent session's stream may still be reading it (the earlier
    // delete-then-move swap had a window where a running stream lost its
    // files mid-microbatch and a prober saw no stage at all). A source
    // regeneration simply resolves to a NEW directory; prior versions
    // linger in /tmp (one per regeneration, bounded) until the OS
    // reaps them. The build is still crash-safe: both files are
    // assembled in a temp dir and ATOMIC_MOVEd in, so a versioned dir
    // either exists complete or not at all; a lost race keeps the
    // winner's identical bytes.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val src = new java.io.File(s"$sfDir/events.parquet")
    // source identity for the version tag: a driver-written single file
    // keys on its length; a Spark-written table DIRECTORY (ScaleData
    // tiles) keys on a fold over its part files — a dir's own length is
    // a constant 4096 and would alias every regeneration
    val srcIdent: Long =
      if (src.isDirectory)
        src.listFiles().map(f =>
          f.getName.hashCode.toLong ^ f.lastModified() ^ f.length()).sum
      else src.length()
    val staged = new java.io.File(
      // v2: per-type sentinel rows (a v1 stage with the single-type
      // sentinel must not be reused — hence the version tag)
      s"/tmp/graft_session_stream_v2_${Integer.toHexString(sfDir.hashCode)}_" +
        java.lang.Long.toHexString(src.lastModified()) + "-" +
        java.lang.Long.toHexString(srcIdent))
    def isFresh(dir: java.io.File): Boolean =
      new java.io.File(dir, "00_events.parquet").exists() &&
        new java.io.File(dir, "01_sentinel.parquet").exists()
    if (!isFresh(staged)) {
      val build = java.nio.file.Files.createTempDirectory(
        staged.getParentFile.toPath, staged.getName + ".build-").toFile
      val dst = new java.io.File(build, "00_events.parquet")
      if (src.isDirectory) {
        // a Spark-written events TABLE (ScaleData tiles): Files.copy of
        // a directory copies an EMPTY dir — the stream then drains zero
        // event rows and every windowed/sessionized answer is silently
        // empty (caught by the r14 skewed-tile oracle gate, latent for
        // every scale rehearsal before it). Compact the table to one
        // staged file so the <events, sentinel> mtime order still gives
        // exactly two microbatches.
        val tmpEv = new java.io.File(build, "_events_build").getAbsolutePath
        spark.read.parquet(src.getAbsolutePath).repartition(1)
          .write.mode("overwrite").parquet(tmpEv)
        val part = new java.io.File(tmpEv).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpEv))
      } else
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the staged copy must not look stale against a same-millisecond
      // source regeneration
      dst.setLastModified(math.max(dst.lastModified(), src.lastModified()))
      val maxTs = graft.sources.TpchGraph.events(spark, sfDir)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      // the sentinel must carry the SOURCE file's physical ts type — the
      // stream reads both files with one schema
      val sentinelMicros = maxTs + 86400L * 1000000L
      val tsOut = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(sentinelMicros * 1000L) // legacy nanos
        case t => timestamp_micros(lit(sentinelMicros)).cast(t)
      }
      val tmpOut = new java.io.File(build, "_sentinel_build").getAbsolutePath
      // ONE sentinel row PER event type: consumers filter by type BEFORE
      // their stateful operator, and Catalyst pushes those filters below
      // the EventTimeWatermark node — so each filtered leg owns its own
      // watermark stats and a single-type sentinel would advance only
      // one leg (the global watermark is the MIN across legs; p120's
      // outer join held its last view back exactly this way). A
      // per-type sentinel advances every leg whatever it filters on.
      spark.read.parquet(s"$sfDir/events.parquet")
        .dropDuplicates("event_type")
        .withColumn("event_id", lit(-1L))
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", tsOut)
        .coalesce(1).write.mode("overwrite").parquet(tmpOut)
      val part = new java.io.File(tmpOut).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val sentinel = new java.io.File(build, "01_sentinel.parquet")
      java.nio.file.Files.copy(part.toPath, sentinel.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the file source orders same-trigger candidates by mtime
      sentinel.setLastModified(dst.lastModified() + 60000L)
      // the Spark job dir (and its _SUCCESS etc.) must not ride along
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpOut))
      // one atomic rename into the versioned name — no prior delete. If
      // another session won the race, its stage is complete and
      // byte-identical (same source version); discard ours.
      try java.nio.file.Files.move(build.toPath, staged.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          org.apache.commons.io.FileUtils.deleteDirectory(build)
          if (!isFresh(staged)) throw e
      }
    }
    (staged, schema)
  }

  /** The p111 flatMapGroupsWithState sessionization as a PIPELINE over
    * any normalized event stream — shared by the memory-sink runner
    * below and the checkpoint restart-recovery harness
    * ([[RestartRecovery]]), so both drive the identical stateful
    * operator (the sentinel user is NOT filtered here; callers drop
    * `user_id == -1`).
    */
  def sessionTimeoutPipeline(spark: SparkSession, source: DataFrame,
                             gapMinutes: Int = 30): Dataset[Session] = {
    import spark.implicits._
    val gapSeconds = gapMinutes * 60L
    val zoneId = spark.conf.get("spark.sql.session.timeZone")
    val stream = source
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("value"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[SessionEventWm]

    def mkSession(user: Long, s: SessState): Session = {
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneId.of(zoneId))
      Session(user, fmt.format(java.time.Instant.ofEpochSecond(s.startMicros / 1000000L)),
        s.n, BigDecimal(s.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

    val sessions = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEventWm], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val done = mkSession(user, state.get)
            state.remove()
            Iterator.single(done)
          } else {
            val evs = it.toArray.sortBy(_.tsMicros)
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case Some(s)
                  if e.tsMicros / 1000000L - s.lastMicros / 1000000L <= gapSeconds =>
                  cur = Some(s.copy(lastMicros = e.tsMicros, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  out += mkSession(user, s)
                  cur = Some(SessState(e.tsMicros, e.tsMicros, 1, e.value))
                case None =>
                  cur = Some(SessState(e.tsMicros, e.tsMicros, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              val fireAtMs = s.lastMicros / 1000L + gapSeconds * 1000L + 1L
              state.setTimeoutTimestamp(
                math.max(fireAtMs, state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
    sessions
  }

  /** Shard-local session emitted by [[sessionShardTimeoutPipeline]]: a
    * maximal session WITHIN one (user, time-shard); cross-shard stitches
    * happen in [[mergeLocalSessions]].
    */
  final case class LocalSession(user_id: Long, startMicros: Long, lastMicros: Long,
                                n_events: Long, sum_value: Double)

  /** The HOT-KEY-SAFE form of [[sessionTimeoutPipeline]] (r14 skew
    * finding: a user owning 5% of the stream serializes the whole
    * per-user fold through one state partition — measured +21% on the
    * skewed sf1.0 tile, flat across 16/64 shuffle partitions because
    * state partitioning cannot split a single key). State is keyed by
    * (user, time-shard of `shardMinutes`), so a mega-user's events
    * spread across as many state keys as their activity spans shards
    * and the per-key sort/fold parallelizes. Each key emits LOCAL
    * sessions: gap-closed sessions flush exactly as in the plain form;
    * a session still open at its shard's end flushes when the watermark
    * passes the shard boundary (timeout at `min(last + gap, shardEnd)`)
    * — it can only continue into the NEXT shard, which is
    * [[mergeLocalSessions]]'s job downstream. A gap-closed session
    * needs no stitch: if `last + gap < shardEnd` fired, the next event
    * anywhere (same shard or later ones, all ≥ its close point) is
    * > gap away by construction. In production the merge is a second
    * (session-scale, not event-scale) streaming stage; the bounded
    * runner below applies it on the drained table.
    */
  def sessionShardTimeoutPipeline(spark: SparkSession, source: DataFrame,
                                  gapMinutes: Int = 30,
                                  shardMinutes: Int = 1440): Dataset[LocalSession] = {
    import spark.implicits._
    require(shardMinutes >= 1, s"positive shard size: $shardMinutes")
    val gapSeconds = gapMinutes * 60L
    val shardMicros = shardMinutes * 60L * 1000000L
    val stream = source
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"),
        col("value"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[SessionEventWm]

    stream.groupByKey(e => (e.user_id, Math.floorDiv(e.tsMicros, shardMicros)))
      .flatMapGroupsWithState[SessState, LocalSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), it: Iterator[SessionEventWm], state: GroupState[SessState]) =>
          val (user, shard) = key
          def done(s: SessState): LocalSession =
            LocalSession(user, s.startMicros, s.lastMicros, s.n, s.sum)
          if (state.hasTimedOut) {
            val d = done(state.get)
            state.remove()
            Iterator.single(d)
          } else {
            val evs = it.toArray.sortBy(_.tsMicros)
            val out = scala.collection.mutable.ArrayBuffer[LocalSession]()
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case Some(s)
                  if e.tsMicros / 1000000L - s.lastMicros / 1000000L <= gapSeconds =>
                  cur = Some(s.copy(lastMicros = e.tsMicros, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  out += done(s)
                  cur = Some(SessState(e.tsMicros, e.tsMicros, 1, e.value))
                case None =>
                  cur = Some(SessState(e.tsMicros, e.tsMicros, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              val shardEndMs = (shard + 1L) * shardMicros / 1000L
              val fireAtMs =
                math.min(s.lastMicros / 1000L + gapSeconds * 1000L, shardEndMs) + 1L
              state.setTimeoutTimestamp(
                math.max(fireAtMs, state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  def runSessionTimeoutStream(spark: SparkSession, sfDir: String,
                              gapMinutes: Int = 30,
                              shardMinutes: Int = 1440): DataFrame = {
    val (staged, schema) = stagedEventsWithSentinel(spark, sfDir)
    val locals = sessionShardTimeoutPipeline(spark,
      graft.sources.TpchGraph.normalizeTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.getAbsolutePath)),
      gapMinutes, shardMinutes)

    val drained = drainToMemory(spark, "graft_stream_session_timeout", "append") {
      locals.filter(col("user_id") =!= -1L)
    }
    val local = drained
      .select(col("user_id"),
        timestamp_micros(col("startMicros")).as("start_ts"),
        timestamp_micros(col("lastMicros")).as("last_ts"),
        col("n_events"), col("sum_value"))
    mergeLocalSessions(local, gapMinutes * 60L).orderBy("user_id", "session_start")
  }

  /** Batch sessionization: split each user's event stream into sessions
    * at gaps > `gapMinutes`. One shuffle (by user), then window
    * functions: `lag` marks session starts, a running sum numbers them.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select("user_id", "session_start", "n_events", "sum_value")
      .orderBy("user_id", "session_start")
  }

  /** Merge SHARD-LOCAL sessions into final sessions — the second half of
    * the hot-key sessionization split (r14 skew finding: one user owning
    * 5% of the stream serializes the whole per-user fold through one
    * task; measured +21% on the skewed sf1.0 tile). Input rows are
    * maximal sessions WITHIN a (user, time-shard): `(user_id, start_ts,
    * last_ts, n_events, sum_value)` with `sum_value` unrounded. Because
    * every event belongs to exactly one shard and local sessions are
    * maximal within their shard, the rows of one user are disjoint
    * time intervals; sorted by start, the SAME gap recurrence applied at
    * session granularity (lag of the previous session's end + running
    * sum) reconstructs exactly the unsharded partition of the user's
    * events — within-shard gaps > gap already split, and cross-shard
    * adjacency is decided here. The per-user window that made the hot
    * key a straggler now runs over session rows, smaller than the event
    * stream by the mean session size; the event-scale work above it is
    * keyed by (user, shard) and parallelizes across shards.
    */
  private[streaming] def mergeLocalSessions(local: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("start_ts"), col("last_ts"))
    local
      .withColumn("prev_last", lag(col("last_ts"), 1).over(byUser))
      .withColumn("new_m",
        when(col("prev_last").isNull ||
          unix_timestamp(col("start_ts")) - unix_timestamp(col("prev_last")) > gapSeconds, 1)
          .otherwise(0))
      .withColumn("mno", sum(col("new_m")).over(byUser))
      .groupBy(col("user_id"), col("mno"))
      .agg(
        date_format(min(col("start_ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        sum(col("n_events")).as("n_events"),
        round(sum(col("sum_value")), 2).as("sum_value"))
      .select("user_id", "session_start", "n_events", "sum_value")
  }

  /** Hot-key-sharded batch sessionization — identical answers to
    * [[sessionizeBatch]] (spec-pinned equal, and p169's oracle replays
    * the PLAIN recurrence, so the gate itself proves the equivalence on
    * real data), but a user whose event count exceeds `hotThreshold`
    * has their events time-sharded into `shardMinutes` buckets first:
    * the event-scale lag window runs per (user, shard) — parallel
    * across shards — and [[mergeLocalSessions]] stitches
    * boundary-straddling sessions back together at session granularity.
    * Cold users keep a single shard, so their plan is the
    * [[sessionizeBatch]] window plus one no-op merge over their session
    * rows. The hot set is bounded by n/hotThreshold rows and broadcast
    * by construction.
    */
  def sessionizeBatchSharded(events: DataFrame, gapMinutes: Int,
                             hotThreshold: Long = 100000L,
                             shardMinutes: Int = 1440): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(hotThreshold >= 0, s"non-negative hot threshold: $hotThreshold")
    require(shardMinutes >= 1, s"positive shard size: $shardMinutes")
    val gapSec = gapMinutes * 60L
    val shardSec = shardMinutes * 60L
    val hot = events.groupBy(col("user_id")).agg(count(lit(1)).as("hn"))
      .filter(col("hn") > hotThreshold)
    val tagged = events.join(broadcast(hot), Seq("user_id"), "left")
      .withColumn("shard",
        when(col("hn").isNotNull, floor(unix_timestamp(col("ts")) / shardSec))
          .otherwise(lit(0L)))
    val byShard = Window.partitionBy(col("user_id"), col("shard"))
      .orderBy(col("ts"), col("event_id"))
    val local = tagged
      .withColumn("prev_ts", lag(col("ts"), 1).over(byShard))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1)
          .otherwise(0))
      .withColumn("sno", sum(col("new_session")).over(byShard))
      .groupBy(col("user_id"), col("shard"), col("sno"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    mergeLocalSessions(local, gapSec).orderBy("user_id", "session_start")
  }

  /** Sessionization via Spark's BUILT-IN `session_window` — the twin of
    * [[sessionizeBatch]] on the engine's native operator (usable
    * identically under `groupBy` in batch and under a watermark in
    * streaming). Semantics are IDENTICAL including the gap boundary:
    * Spark merges touching windows, so an event arriving exactly `gap`
    * after the previous one stays in the same session — the same
    * `diff > gap` rule as the batch form (pinned by EventStreamSpec's
    * boundary case). The comparison basis is second-truncated to match
    * `sessionizeBatch`'s `unix_timestamp` arithmetic. Prefer this form
    * at scale: session assignment is ONE aggregation — no lag window +
    * running-sum window pair over the full event stream.
    */
  def sessionizeBuiltin(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(date_trunc("second", col("ts")), s"$gapMinutes minutes").as("sw"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select("user_id", "session_start", "n_events", "sum_value")
      .orderBy("user_id", "session_start")

  /** Stateful-streaming sessionization via `flatMapGroupsWithState` — the
    * custom-state operator of SURVEY §2.9's streaming extension. The
    * bounded smoke path feeds all data in one batch (NoTimeout, emit at
    * group end); a production deployment would use event-time timeout +
    * watermark to flush sessions incrementally.
    *
    * Semantics deliberately mirror [[sessionizeBatch]] so the two are
    * interchangeable (EventStreamSpec asserts equality): the gap compares
    * SECOND-truncated timestamps (the batch form uses `unix_timestamp`),
    * `session_start` renders in the session time zone, and the sum rounds
    * HALF_UP like Spark's `round`.
    */
  def sessionizeStateful(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapSeconds = gapMinutes * 60L
    val zone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[SessionEvent], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessionEvent], _: GroupState[Seq[SessionEvent]]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsMicros))
          if (sorted.isEmpty) Iterator.empty
          else {
            val sessions = scala.collection.mutable.ArrayBuffer[Seq[SessionEvent]]()
            var current = scala.collection.mutable.ArrayBuffer(sorted.head)
            sorted.tail.foreach { e =>
              if (e.tsMicros / 1000000L - current.last.tsMicros / 1000000L > gapSeconds) {
                sessions += current.toSeq
                current = scala.collection.mutable.ArrayBuffer(e)
              } else current += e
            }
            sessions += current.toSeq
            sessions.iterator.map { s =>
              val fmt = java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(zone)
              Session(user, fmt.format(java.time.Instant.ofEpochSecond(
                  s.head.tsMicros / 1000000L)),
                s.length.toLong,
                BigDecimal(s.map(_.value).sum)
                  .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }
          }
      }
  }
}
