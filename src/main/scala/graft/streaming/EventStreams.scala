package graft.streaming

import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events table: the batch operators'
  * streaming duals (SURVEY.md §2.9 — the reference is batch-only, so this
  * whole module is an extension).
  *
  * The parquet file source + memory sink + `processAllAvailable` lets a
  * finite directory drive the streaming query synchronously for tests and
  * the correctness harness; in production the same plan reads Kafka/files
  * with a real trigger, and the watermark bounds state size.
  */
object EventStreams {

  /** Internal contract: `ts` is a LONG of NANOSECONDS since epoch. The
    * sentinel arithmetic, `sessionFold`, and every `ts div 1000` µs rebuild
    * below assume it. Files WE write (sentinel dirs) use this schema
    * directly.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The driver's testdata generator has shipped `events.ts` two ways
    * across rounds: parquet TIMESTAMP(NANOS) (a LONG under the session's
    * `nanosAsLong`) and parquet timestamp[us] (TIMESTAMP_NTZ). Streaming
    * file sources need an explicit schema, so probe the footer ONCE (a
    * metadata-only batch read) and normalize either encoding to the
    * long-nanos contract. The NTZ→LTZ cast is value-preserving because
    * the session TZ is UTC ([[graft.ops.Tables.requireUtc]] asserts it on
    * the cast path). ASSUMPTION: every file under the glob shares one ts
    * encoding — the probe reads one footer and a mixed-encoding directory
    * would decode the minority encoding wrongly; testdata generations
    * never mix encodings within a directory. A glob matching no files yet
    * (a stream source created before its first input) falls back to the
    * long-nanos contract of [[rawSchema]] — the encoding files WE write.
    */
  private[graft] def tsTypeOnDisk(spark: SparkSession, path: String): DataType =
    try Tables.parquetSchema(spark, path)("ts").dataType
    catch {
      case _: org.apache.spark.sql.AnalysisException => LongType
    }

  private def schemaWithTs(ts: DataType): StructType =
    StructType(rawSchema.map(f => if (f.name == "ts") f.copy(dataType = ts) else f))

  private def toNanos(df: DataFrame, onDisk: DataType): DataFrame = onDisk match {
    case LongType => df
    case _ =>
      graft.ops.Tables.requireUtc(df.sparkSession)
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
  }

  /** Streaming events source with `ts` normalized to long nanos. */
  private def eventsStreamNanos(spark: SparkSession, glob: String): DataFrame = {
    val dt = tsTypeOnDisk(spark, glob)
    toNanos(spark.readStream.schema(schemaWithTs(dt)).parquet(glob), dt)
  }

  /** Batch events read with `ts` normalized to long nanos. */
  private def eventsBatchNanos(spark: SparkSession, path: String): DataFrame = {
    val dt = tsTypeOnDisk(spark, path)
    toNanos(spark.read.schema(schemaWithTs(dt)).parquet(path), dt)
  }

  /** Hourly tumbling-window counts/sums per event type, computed by a real
    * streaming query and returned as the finished in-memory table.
    * Aggregates use the exact decimal path so results match the batch dual
    * bit-for-bit.
    */
  def hourlyWindowed(spark: SparkSession, sfDir: String,
                     queryName: String = "graft_stream_hourly"): DataFrame = {
    // the file source wants a directory/glob, not a bare file path
    val events = eventsStreamNanos(spark, s"$sfDir/events.*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
    // complete mode re-emits the whole result on every DATA batch — the
    // drained-source no-data batch is pure state-machinery overhead here
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      agg.writeStream
        .outputMode("complete") // finite input: every window emits
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Append-mode hourly windows with a REAL watermark lifecycle: windows
    * emit only when the watermark passes their end (unlike
    * [[hourlyWindowed]]'s complete mode, which re-emits everything).
    *
    * A drained finite source never advances the watermark past its own max
    * event time, so the last windows would never close. The driver stages
    * the input as two files in one source directory — the real events, then
    * one far-future sentinel row — and `maxFilesPerTrigger=1` forces two
    * micro-batches: batch 1 aggregates the real data, batch 2's sentinel
    * pushes the watermark 30 days ahead, closing and appending every real
    * window. The sentinel's grouping row is filtered from the result; its
    * own window never closes, so it can't leak. State size is bounded by
    * open windows per key — the watermark's whole point at 100 TB/day.
    */
  def hourlyWindowedAppend(spark: SparkSession, sfDir: String,
                           queryName: String = "graft_stream_hourly_append"): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "graft-append-")
    // phase-1 files: the real events, staged into the source dir in the
    // long-nanos schema so the sentinel appends below share ONE dir and
    // ONE encoding regardless of which ts encoding the driver shipped.
    // Already-long-nanos files stage as a plain file copy (metadata-speed
    // at any SF); only the NTZ encoding pays a normalizing rewrite.
    // Staged INTO dir itself (not a subdir) — the parquet file stream
    // source lists files at the top level only.
    val srcFile = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    if (tsTypeOnDisk(spark, s"$sfDir/events.parquet") == LongType &&
        java.nio.file.Files.isRegularFile(srcFile))
      java.nio.file.Files.copy(srcFile, dir.resolve("b0-events.parquet"))
    else
      eventsBatchNanos(spark, s"$sfDir/events.parquet")
        .write.mode("append").parquet(dir.toString)
    // one scalar agg over the ts column (projection-pruned scan of the
    // staged dir) collected ONCE; each sentinel is then a 1-row
    // createDataFrame + tiny parquet append — no per-sentinel full-file
    // aggregate jobs
    val maxTs = spark.read.schema(rawSchema).parquet(dir.toString)
      .agg(max(col("ts"))).head().getLong(0)
    // sentinels are added BETWEEN processAllAvailable calls (below), each
    // forcing its own micro-batch. A window finalizes in the batch AFTER
    // the one whose data advanced the watermark past its end, so sentinel
    // #1 closes everything except the trailing windows (the watermark at
    // its batch's start still lags them) and sentinel #2 triggers the
    // extra batch that closes those.
    def addSentinel(i: Int, days: Long): Unit = {
      val row = Row(-1L - i, maxTs + days * 24 * 3600 * 1000000000L,
        -1L, EndOfStreamType, 0.0, null)
      spark.createDataFrame(java.util.Collections.singletonList(row), rawSchema)
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }

    val events = spark.readStream.schema(rawSchema)
      .parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
    // NOTE: the sentinel filter must NOT live inside the streaming query —
    // a predicate on the grouping column pushes below the EventTimeWatermark
    // operator and drops the sentinel before it can advance the watermark.
    // It is applied on the materialized sink table instead.
    val q = agg.writeStream
      .outputMode("append")
      .format("memory").queryName(queryName)
      .start()
    try {
      q.processAllAvailable() // batch 1: real events aggregate into state
      addSentinel(0, days = 30)
      // batch 2 ingests the sentinel and advances the watermark; the
      // engine's no-data micro-batch (noDataMicroBatches, on by default)
      // then closes and appends every real window without a second
      // sentinel — processAllAvailable blocks through both
      q.processAllAvailable()
    } finally {
      q.stop()
      // the memory sink holds materialized rows — the staging dir is dead
      deleteRecursively(dir)
    }
    spark.table(queryName).where(col("event_type") =!= EndOfStreamType)
  }

  /** Stream-stream interval join: purchases joined to the clicks that land
    * within `windowMinutes` AFTER them, per user — q67's attribution shape
    * as a REAL two-stream join. Both sides carry event-time watermarks and
    * the join condition bounds their time difference, which is exactly
    * what lets the engine expire join state: a buffered click older than
    * (watermark − window) can never match a future purchase and is dropped,
    * so state is bounded by the time window instead of the stream length —
    * the property that makes this run forever at 100 TB/day.
    *
    * Inner-join matches emit as soon as both rows have arrived (no
    * watermark-closure wait, so a drained finite source needs no
    * sentinel); the finite-input result is the exact batch join, pair for
    * pair, and the oracle checks it at that granularity.
    */
  def purchaseClickJoin(spark: SparkSession, sfDir: String,
                        windowMinutes: Long = 60,
                        queryName: String = "graft_stream_ssjoin"): DataFrame = {
    // The watermark delay must cover the join window: a buffered click is
    // only safe to expire once the watermark guarantees no purchase up to
    // `windowMinutes` earlier can still arrive. A fixed "1 hour" here would
    // silently drop pairs for windowMinutes > 60 when input spans multiple
    // micro-batches, so the delay is derived from the window (floor 1h for
    // ordinary out-of-orderness).
    val watermarkDelay = s"${math.max(windowMinutes, 60L)} minutes"
    def side(eventType: String, idAs: String, userAs: String, tsAs: String) =
      eventsStreamNanos(spark, s"$sfDir/events.*")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .where(col("event_type") === eventType)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          col("ts").as(tsAs))
        .withWatermark(tsAs, watermarkDelay)
    val purchases = side("purchase", "purchase_id", "p_user", "p_ts")
    val clicks = side("click", "click_id", "c_user", "c_ts")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), unix_micros(col("c_ts")).as("click_us"))
    // inner stream-stream joins emit as soon as both rows arrived — the
    // watermark only expires buffered state, so the drained-source
    // no-data batch (measured 2.9 s of this query's 8.5 s wall: one full
    // task wave reloading and committing all 4x32 state stores over zero
    // rows) contributes no output row at any scale
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      joined.writeStream.outputMode("append")
        .format("memory").queryName(queryName).start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Remove a staging directory tree (children before parents). */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
  }

  // ------------------------------------------------------- stateful sessions

  /** Raw event row as stored (ts = TIMESTAMP(NANOS) read as long nanos). */
  final case class RawEvent(event_id: Long, ts: Long, user_id: Long,
                            event_type: String, value: Double, props: String)

  /** Open-session state carried between micro-batches, one per user key. */
  final case class OpenSession(idx: Long, startUs: Long, lastUs: Long, n: Long)

  /** Emitted closed session — column-compatible with the batch q42 shape. */
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                              start_us: Long, end_us: Long)

  val EndOfStreamType = "__end"

  /** Core per-key session fold shared by both stateful variants: replay
    * the batch's events in (ts, event_id) order, extend or close the open
    * session on each gap, close unconditionally on the harness sentinel.
    * Pure over (events, prior state) → (emissions, new state), so the
    * variants differ only in how end-of-stream is signalled.
    *
    * A prior state with n == 0 is a CLOSED-SESSION MARKER (idx = the last
    * emitted index, lastUs = its end): the timeout path leaves one behind
    * so a user's next session continues the numbering instead of reusing
    * session_id 1. A fresh session therefore starts at marker.idx + 1.
    */
  private[graft] def sessionFold(userId: Long, gapUs: Long,
      evs: Array[RawEvent], prior: Option[OpenSession])
      : (Seq[SessionOut], Option[OpenSession]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    var open: Option[OpenSession] = prior.filter(_.n > 0)
    var nextIdx: Long = prior.map(_.idx + 1).getOrElse(1L)
    def close(o: OpenSession): Unit = {
      out += SessionOut(userId, o.idx, o.n, o.startUs, o.lastUs)
      nextIdx = o.idx + 1
    }
    evs.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      val us = Math.floorDiv(e.ts, 1000L)
      if (e.event_type == EndOfStreamType) {
        open.foreach(close); open = None
      } else open match {
        case Some(o) if us - o.lastUs <= gapUs =>
          open = Some(o.copy(lastUs = us, n = o.n + 1))
        case Some(o) =>
          close(o); open = Some(OpenSession(o.idx + 1, us, us, 1))
        case None =>
          open = Some(OpenSession(nextIdx, us, us, 1))
      }
    }
    (out.toSeq, open)
  }

  /** Handler for the sentinel-closed harness path (NoTimeout): state
    * carries the open session across batches; the sentinel event closes it.
    */
  private[graft] def sessionHandler(gapUs: Long)(userId: Long,
      it: Iterator[RawEvent],
      state: org.apache.spark.sql.streaming.GroupState[OpenSession])
      : Iterator[SessionOut] = {
    val (out, open) = sessionFold(userId, gapUs, it.toArray, state.getOption)
    open match { case Some(o) => state.update(o); case None => state.remove() }
    out.iterator
  }

  /** Handler for the LIVE deployment path (EventTimeTimeout): no sentinel
    * anywhere — after each batch the open session registers an event-time
    * timeout at lastUs + gap, and when the WATERMARK passes that point the
    * runtime calls back with `hasTimedOut` and the session closes exactly
    * as the gap rule demands. The watermark can only pass lastUs + gap
    * once no event that could extend the session can still arrive, so the
    * emitted sessions are identical to the sentinel path's.
    */
  private[graft] def sessionTimeoutHandler(gapUs: Long)(userId: Long,
      it: Iterator[RawEvent],
      state: org.apache.spark.sql.streaming.GroupState[OpenSession])
      : Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val o = state.get
      if (o.n > 0) {
        // close and emit the open session, but leave a CLOSED-SESSION
        // MARKER (n = 0) behind so the user's next session continues the
        // numbering instead of reusing session_id 1 — without it the live
        // path would diverge from the sentinel path on any user with two
        // timeout-separated sessions. The marker itself expires after
        // 10 more gaps (bounded state): a user idle longer than that
        // restarts numbering at 1, the documented retention horizon.
        state.update(o.copy(n = 0, startUs = o.lastUs))
        state.setTimeoutTimestamp(
          state.getCurrentWatermarkMs() + 10L * (gapUs / 1000L))
        Iterator.single(SessionOut(userId, o.idx, o.n, o.startUs, o.lastUs))
      } else {
        // retention expired: drop the marker, nothing to emit
        state.remove()
        Iterator.empty
      }
    } else {
      val (out, open) = sessionFold(userId, gapUs, it.toArray, state.getOption)
      open match {
        case Some(o) =>
          state.update(o)
          // event-time timeouts are millisecond-epoch; fire one gap after
          // the last event (+1ms so an exactly-on-gap event still extends).
          // Clamped to watermark+1: flatMapGroupsWithState does NOT drop
          // late rows, and setTimeoutTimestamp throws when handed a
          // timestamp at-or-before the current watermark — without the
          // clamp a single event arriving more than one gap late would
          // fail the whole live query.
          val wmMs = try state.getCurrentWatermarkMs()
            catch { case _: UnsupportedOperationException => Long.MinValue }
          state.setTimeoutTimestamp(
            math.max(wmMs + 1L, o.lastUs / 1000L + gapUs / 1000L + 1L))
        case None =>
          // only reachable on an empty data batch (no sentinels exist in
          // the live path); any closed-session marker stays as it was
          ()
      }
      out.iterator
    }
  }

  /** Gap-based sessionization as a REAL stateful streaming query:
    * `flatMapGroupsWithState` keyed by user, an [[OpenSession]] per key as
    * state, sessions emitted as they close. This is the streaming dual of
    * the batch window-function sessionize (EventQueries q42) and produces
    * the identical result set, so it shares q42's SQL oracle.
    *
    * Finite-input closure: timeouts only fire on a subsequent trigger, which
    * a drained file source never runs — so end-of-stream is made explicit
    * instead: a second tiny file source carries one far-future sentinel
    * event per user (written under target/, unioned into the stream), and
    * the state handler closes the open session when it sees it. In a live
    * deployment the sentinel source is dropped and
    * `GroupStateTimeout.EventTimeTimeout` plays that role.
    *
    * Scale: state is one small case class per active user; each microbatch
    * group is sorted in memory, which is bounded by per-user-per-batch event
    * counts (not total history).
    */
  def sessionizeStateful(spark: SparkSession, sfDir: String,
                         gapMinutes: Long = 30,
                         queryName: String = "graft_stream_sessions"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._

    // one sentinel per user at max(ts)+10d, same raw schema, parquet source #2
    val batchRaw = eventsBatchNanos(spark, s"$sfDir/events.parquet")
    val sentinelPath = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "graft-sentinel-")
    val sentinelDir = sentinelPath.toString
    batchRaw.groupBy(col("user_id")).agg(max(col("ts")).as("max_ts"))
      .select(lit(-1L).as("event_id"),
        (col("max_ts") + lit(10L * 24 * 3600 * 1000000000L)).as("ts"),
        col("user_id"), lit(EndOfStreamType).as("event_type"),
        lit(0.0).as("value"), lit(null).cast(StringType).as("props"))
      .write.mode("overwrite").parquet(sentinelDir)

    val gapUs = gapMinutes * 60L * 1000000L
    // the sentinel dir is OUR parquet (long-nanos rawSchema); the testdata
    // dir needs the encoding probe — normalize both before the union
    val events = eventsStreamNanos(spark, s"$sfDir/events.*")
      .union(spark.readStream.schema(rawSchema).parquet(sentinelDir))
      .as[RawEvent]

    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(sessionHandler(gapUs))
    // NoTimeout flatMapGroupsWithState emits only inside data-batch
    // handler calls (the sentinel closes open sessions) — no watermark
    // release to wait for
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      sessions.writeStream.outputMode("append")
        .format("memory").queryName(queryName).start()
    }
    try q.processAllAvailable() finally {
      q.stop()
      deleteRecursively(sentinelPath)
    }
    spark.table(queryName)
  }

  /** [[RawEvent]] plus the watermark column EventTimeTimeout requires. */
  final case class WmEvent(event_id: Long, ts: Long, user_id: Long,
                           event_type: String, value: Double, props: String,
                           event_ts: java.sql.Timestamp) {
    def toRaw: RawEvent = RawEvent(event_id, ts, user_id, event_type, value, props)
  }

  /** The LIVE deployment form of [[sessionizeStateful]]: no sentinel
    * source — open sessions close via `GroupStateTimeout.EventTimeTimeout`
    * when the watermark passes lastEvent + gap ([[sessionTimeoutHandler]]).
    * Returns the running StreamingQuery writing closed sessions to a
    * memory sink; the caller owns its lifecycle.
    *
    * Deliberately NOT a correctness query: timeouts fire on a trigger
    * AFTER the watermark advances, and a drained finite file source runs
    * no further triggers — the exact harness limitation the sentinel path
    * works around. The handler's timeout semantics are pinned by
    * StreamingSpec against Spark's TestGroupState instead.
    */
  def sessionizeStatefulEventTime(spark: SparkSession, sfDir: String,
      gapMinutes: Long = 30,
      queryName: String = "graft_stream_sessions_live")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val events = eventsStreamNanos(spark, s"$sfDir/events.*")
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", s"$gapMinutes minutes")
      .as[WmEvent]
    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[WmEvent],
         st: org.apache.spark.sql.streaming.GroupState[OpenSession]) =>
          sessionTimeoutHandler(gapUs)(uid, it.map(_.toRaw), st)
      }
    sessions.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
  }
}
