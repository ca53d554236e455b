package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.engine.GraftSession

/** Structured Streaming surface (north-star extension; the reference has no
  * streaming — SURVEY.md §2c). Transforms are written batch/stream
  * agnostic: the same column algebra applied to `readStream` inputs runs
  * incrementally with watermark-bounded state at cluster scale.
  */
object StreamingOps {

  /** File-stream source over an events parquet directory. Schema must be
    * explicit for file streams; it is read from the parquet footers of the
    * same directory on the driver (`ParquetSchemaBridge.footerSchema`, no
    * Spark job; driver testdata generations have shipped `ts` as both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) — see GraftSession.table), then
    * `ts` is normalized to a microsecond timestamp exactly as batch reads
    * are, so stream and batch schemas cannot drift apart.
    *
    * A directory that holds no data file yet is a normal state for a
    * file-stream source (files arrive after the stream starts), so it gets
    * the generator's published micros schema; `eventsTsToMicros` is a
    * no-op on it. Any other read failure (a missing directory, a corrupt
    * file) throws at stream-definition time.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = ParquetSchemaBridge.footerSchema(spark, dir).getOrElse(
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"))
    // the file-stream source requires a DIRECTORY (its base path must be
    // listable for new-file discovery; a bare file is rejected even with
    // an explicit basePath option). The driver's testdata layout is one
    // parquet FILE per table, so a file path is staged into a per-path
    // cached temp directory once per JVM — a pointer move, not a data
    // pipeline step: a production deployment streams a real landing
    // directory and never hits this branch.
    val f = new java.io.File(dir)
    val streamPath = if (f.isFile) stagedDir(spark, f) else dir
    GraftSession.eventsTsToMicros(
      spark.readStream.schema(schema).parquet(streamPath))
  }

  // keyed per path with a (mtime, length) stamp: a source file
  // regenerated in place mid-JVM must stage a FRESH copy (a path-only
  // cache would silently replay the stale bytes into every later
  // stream), and the SUPERSEDED copy is deleted eagerly — deleteOnExit
  // alone would leak one full table copy per in-place regeneration for
  // the whole process lifetime. Eager eviction is gated on the session
  // having NO active streaming query: the file source re-lists its base
  // path every micro-batch, so deleting a superseded copy that an
  // earlier, still-running stream reads would fail that stream (or feed
  // it an empty dir); with any stream live we fall back to deleteOnExit
  // for the stale copy — a bounded leak (one table copy per in-place
  // regeneration under a live stream) instead of a wrong answer.
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), String)]()
  private def stagedDir(spark: SparkSession, f: java.io.File): String = {
    val stamp = (f.lastModified, f.length)
    staged.compute(f.getAbsolutePath, (_, old) => {
      if (old != null && old._1 == stamp) old
      else {
        if (old != null) {
          val od = java.nio.file.Paths.get(old._2)
          if (spark.streams.active.nonEmpty) {
            // a live query may hold this dir: defer (dir registered
            // before file — deleteOnExit runs LIFO, file goes first)
            od.toFile.deleteOnExit()
            try {
              val files = java.nio.file.Files.list(od)
              try files.forEach(p => p.toFile.deleteOnExit())
              finally files.close()
            } catch { case _: java.io.IOException => () }
          } else {
            // best-effort eviction of the stale copy (file, then dir)
            try {
              val files = java.nio.file.Files.list(od)
              try files.forEach(p => java.nio.file.Files.deleteIfExists(p))
              finally files.close()
              java.nio.file.Files.deleteIfExists(od)
            } catch { case _: java.io.IOException => () }
          }
        }
        val d = java.nio.file.Files.createTempDirectory("graft-stream")
        val copy = d.resolve(f.getName)
        java.nio.file.Files.copy(f.toPath, copy,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // deleteOnExit on a directory only works if it is EMPTY at exit —
        // register the copied file too (deleteOnExit runs LIFO, so the
        // file inside goes first and the directory delete then succeeds)
        d.toFile.deleteOnExit()
        copy.toFile.deleteOnExit()
        (stamp, d.toString)
      }
    })._2
  }

  /** Generic file-stream over any parquet table path (directory, or a
    * single file staged exactly like [[eventsStream]]); schema comes from
    * its footers (`ParquetSchemaBridge.footerSchema`), and a path with no
    * parquet file to take it from fails. No column normalization — use
    * [[eventsStream]] for the events table, whose `ts` physical type
    * drifts across testdata generations.
    */
  def tableStream(spark: SparkSession, path: String): DataFrame = {
    val schema = ParquetSchemaBridge.footerSchema(spark, path).getOrElse(
      throw new IllegalArgumentException(s"$path holds no parquet file to take a schema from"))
    val f = new java.io.File(path)
    val streamPath = if (f.isFile) stagedDir(spark, f) else path
    spark.readStream.schema(schema).parquet(streamPath)
  }

  /** Tumbling-window counts per event type with a watermark bounding state.
    * Works identically on a batch DataFrame (window() is just a grouping
    * expression there).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))
  }

  /** The final event-time watermark (µs) a bounded run over `events`
    * reaches — for batch twins of append-mode emission contracts
    * (y06/y07): ms-floored max event time, CLAMPED AT ZERO, because
    * Spark's watermark tracker starts at 0 and never goes negative — an
    * empty or all-pre-epoch input leaves the watermark at 0, so its twin
    * must too (a raw negative max-ts would hold sessions the stream
    * emits). One bounded driver fetch of a single scalar. For queries
    * with several watermarked inputs, combine per-input values with MIN
    * (the multiple-watermark min policy) — each is already clamped.
    */
  def finalWatermarkUs(events: DataFrame): Long = {
    val row = events.agg(max(unix_micros(col("ts")))).head()
    if (row.isNullAt(0)) 0L else math.max(0L, (row.getLong(0) / 1000L) * 1000L)
  }

  /** Native session-window aggregation (`session_window(ts, gap)`): the
    * engine-managed sibling of [[sessionCounts]]' hand-rolled
    * mapGroupsWithState — Spark merges overlapping [ts, ts+gap) windows
    * per key into sessions and, on streams, evicts a session's state once
    * the watermark proves no event can extend it. Batch/stream agnostic:
    * the same grouping expression on a batch frame computes the identical
    * session set with no state machinery (the y07 entry pins the
    * equivalence under the append-mode emission contract).
    *
    * @return (user_id, sess_start, sess_end, n_events); sess_end is the
    *         session's last event time + gap (the session_window bound)
    */
  def sessionWindowCounts(events: DataFrame, gapUs: Long = 1800L * 1000000L,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    require(gapUs > 0, s"gapUs must be > 0, got $gapUs")
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src.groupBy(col("user_id"), session_window(col("ts"), s"$gapUs microseconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"))
  }

  /** Batch twin of the STREAMING append-mode session-window aggregation:
    * the sessions are plain batch `session_window` algebra, but an
    * append-mode stream emits a session only once the watermark has
    * passed its end (no later event can merge into it); sessions the
    * final watermark never proved stay in state, unemitted. Keep exactly
    * the decided ones: session end ≤ `finalWatermarkUs` (ms-floored
    * global watermark × 1000 — StreamingSpec pins the boundary
    * orientation).
    *
    * OPTIMIZER HAZARD, the reason this does NOT filter on `sess_end`:
    * `session_window` is planned as a per-row window assignment below a
    * merging aggregate, and Catalyst pushes a deterministic filter on a
    * grouping column below the aggregate — but for session windows the
    * pre-merge per-event `[ts, ts+gap)` end is NOT the merged session's
    * end, so the pushed filter deletes individual EVENTS whose
    * provisional window crosses the cutoff and a session that should
    * have been held (its true end past the watermark) comes back as a
    * decided FRAGMENT of itself (observed on the sf0.01 events table:
    * a 2-event session splitting into a 1-event "decided" row). The
    * filter here is on `max(ts) + gap` — an AGGREGATE-derived column,
    * identical in value to the session end, that no pushdown can move
    * below the aggregate that defines it.
    */
  def sessionWindowBatchDecided(events: DataFrame, gapUs: Long,
      finalWatermarkUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be > 0, got $gapUs")
    events.groupBy(col("user_id"), session_window(col("ts"), s"$gapUs microseconds"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("__last_us"))
      .filter(col("__last_us") + lit(gapUs) <= lit(finalWatermarkUs))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"))
  }

  case class UserEvent(user_id: Long, tsUs: Long)
  case class UserSessionState(sessionCount: Long, lastTsUs: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Pure per-batch session fold: advance (sessionCount, lastTsUs) over one
    * batch of a user's events. Extracted so the cross-batch semantics are
    * unit-testable without streaming machinery.
    */
  private[graft] def foldEvents(prev: Option[UserSessionState],
      evs: Seq[UserEvent], gapUs: Long): (UserSessionState, Long) = {
    val sorted = evs.sortBy(_.tsUs)
    var (sessions, last) = prev
      .map(s => (s.sessionCount, s.lastTsUs)).getOrElse((0L, Long.MinValue))
    var n = 0L
    sorted.foreach { e =>
      if (last == Long.MinValue || e.tsUs - last > gapUs) sessions += 1
      // never rewind: a LATE event (tsUs < last) joins its session but must
      // not drag `last` backwards — subsequent on-time events would measure
      // their gap from the stale timestamp and open spurious sessions
      last = math.max(last, e.tsUs)
      n += 1
    }
    (UserSessionState(sessions, last), n)
  }

  /** Stateful per-user session counting (30-min inactivity gap) via
    * mapGroupsWithState — the streaming twin of the batch window-function
    * sessionization (SparkEntry s03). Update-mode output: one running
    * (user, session-count, event-count) row per user per trigger.
    *
    * `stateTtl` bounds state for long-running deployments with an
    * unbounded/rotating user population: users idle past the TTL
    * (processing time) have their state expired (one final row with
    * n_events = 0; a user seen again later starts a fresh session, which
    * any TTL >= the gap would have declared anyway). Leave it None only
    * when the key population is bounded. NOTE: pair a TTL with a real
    * trigger interval — with the default 0ms trigger the engine runs
    * continuous no-data micro-batches to evaluate pending timeouts.
    */
  def sessionCounts(events: Dataset[UserEvent],
      gapUs: Long = 1800L * 1000000L,
      stateTtl: Option[String] = None): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id).mapGroupsWithState(timeoutConf) {
      (user: Long, evs: Iterator[UserEvent], state: GroupState[UserSessionState]) =>
        if (stateTtl.isDefined && state.hasTimedOut) {
          val s = state.get
          state.remove()
          UserSessions(user, s.sessionCount, 0L)
        } else {
          val (next, n) = foldEvents(state.getOption, evs.toSeq, gapUs)
          state.update(next)
          stateTtl.foreach(state.setTimeoutDuration)
          UserSessions(user, next.sessionCount, n)
        }
    }
  }

  case class TypedEvent(user_id: Long, event_type: String, tsUs: Long)
  case class FunnelState(minTsUs: Seq[Long])
  case class UserFunnel(user_id: Long, funnel_depth: Int)

  /** Sentinel for "step not yet seen" in [[FunnelState]]. */
  private val Unseen = Long.MaxValue

  /** Pure fold: lower the per-step first-occurrence timestamps with one
    * batch of events. Extracted (like [[foldEvents]]) so cross-batch
    * out-of-order semantics are unit-testable without streaming machinery.
    */
  private[graft] def foldFunnel(prev: Option[FunnelState], evs: Seq[TypedEvent],
      steps: Seq[String]): FunnelState = {
    val mins = prev.map(_.minTsUs.toArray).getOrElse(Array.fill(steps.length)(Unseen))
    evs.foreach { e =>
      val i = steps.indexOf(e.event_type)
      if (i >= 0 && e.tsUs < mins(i)) mins(i) = e.tsUs
    }
    FunnelState(mins.toSeq)
  }

  /** Depth = longest prefix of steps whose first occurrences are strictly
    * time-ordered — the same rule as the batch [[graft.operators.EventOps
    * .funnel]].
    */
  private[graft] def depthOf(s: FunnelState): Int = {
    var d = 0
    var i = 0
    var ok = true
    while (i < s.minTsUs.length && ok) {
      ok = s.minTsUs(i) != Unseen && (i == 0 || s.minTsUs(i - 1) < s.minTsUs(i))
      if (ok) d = i + 1
      i += 1
    }
    d
  }

  /** Stateful streaming funnel — the streaming twin of the batch
    * [[graft.operators.EventOps.funnel]] (SparkEntry s04). State per user
    * is exactly `steps.length` timestamps (bounded regardless of event
    * volume), and because the state tracks MIN-per-step rather than
    * "current stage", an out-of-order arrival (the click that happened
    * before the purchase but arrived after it) lowers its step's minimum
    * and the emitted depth converges to the batch answer — a
    * progressed-stage state machine would get this wrong permanently.
    * Update-mode output: one running (user, depth) row per user per
    * trigger.
    *
    * @param stateTtl as in [[sessionCounts]]: expire idle users'
    *        state (processing-time) for unbounded key populations; the
    *        expiry row repeats the user's final depth.
    */
  def funnelDepths(events: Dataset[TypedEvent], steps: Seq[String],
      stateTtl: Option[String] = None): Dataset[UserFunnel] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    import events.sparkSession.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id).mapGroupsWithState(timeoutConf) {
      (user: Long, evs: Iterator[TypedEvent], state: GroupState[FunnelState]) =>
        if (stateTtl.isDefined && state.hasTimedOut) {
          val depth = depthOf(state.get)
          state.remove()
          UserFunnel(user, depth)
        } else {
          val next = foldFunnel(state.getOption, evs.toSeq, steps)
          state.update(next)
          stateTtl.foreach(state.setTimeoutDuration)
          UserFunnel(user, depthOf(next))
        }
    }
  }

  case class FollowupState(pendingUs: Seq[Long], purchasesUs: Seq[Long])
  case class NoFollowup(user_id: Long, tsUs: Long)

  /** Pure fold for [[noFollowupStream]]: merge one batch of a user's
    * events into (pending fromType timestamps, recent toType timestamps),
    * then split out the pendings the watermark has passed. Extracted so
    * the cross-batch out-of-order semantics are unit-testable.
    *
    * A toType at T clears any pending s with s <= T <= s+horizon — and
    * stays in state (pruned to >= watermark) so a LATE-ARRIVING fromType
    * that T should clear still gets cleared: a toType below the watermark
    * can never matter again (any future fromType arrives with ts >=
    * watermark > T). Emission is watermark-gated: s is decided once
    * `s + horizon < watermark` (no qualifying toType can arrive anymore).
    *
    * @return (next state, emissions)
    */
  private[graft] def foldFollowup(prev: Option[FollowupState], evs: Seq[TypedEvent],
      fromType: String, toType: String, horizonUs: Long,
      watermarkUs: Long): (FollowupState, Seq[Long]) = {
    val p0 = prev.getOrElse(FollowupState(Seq.empty, Seq.empty))
    // one sorted mark array serves both the pending-clearing probe (binary
    // search: first mark >= s, cleared iff it lands within the horizon) and
    // the retained-marks pruning — O((p+m) log m) per user-batch, not p×m
    val marks = (p0.purchasesUs ++ evs.filter(_.event_type == toType).map(_.tsUs))
      .toArray.sorted
    def cleared(s: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(marks, s)
      val idx = if (i >= 0) i else -i - 1
      idx < marks.length && marks(idx) <= s + horizonUs
    }
    val purchases = marks.filter(_ >= watermarkUs).toSeq
    val pending = (p0.pendingUs ++ evs.filter(_.event_type == fromType).map(_.tsUs))
      .filterNot(cleared)
    val (decided, stillPending) = pending.partition(s => s + horizonUs < watermarkUs)
    (FollowupState(stillPending.sorted, purchases), decided.sorted)
  }

  case class StampedEvent(user_id: Long, event_type: String, tsUs: Long,
      ts: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.JoinOps.noFollowupWithin]] —
    * "emit the signup once the watermark proves no purchase followed
    * within the horizon". The batch operator needs the full timeline; the
    * stream can only decide a signup when event time has provably moved
    * past its horizon, which is exactly an EVENT-TIME TIMEOUT:
    * `flatMapGroupsWithState(EventTimeTimeout)` with the timer set to the
    * earliest pending signup's horizon. State per user is bounded by the
    * watermark on both components (pendings emit at horizon; cleared
    * toType marks below the watermark are pruned — see [[foldFollowup]]).
    *
    * Takes the raw (user_id, event_type, ts) frame and applies the
    * watermark itself: the event-time column must survive into the
    * stateful operator's input for Spark's checker, so the Dataset keeps
    * `ts` alongside the exact `unix_micros` the fold actually uses.
    *
    * Late-row policy: Spark drops input rows whose event time does not
    * EXCEED the current watermark before any stateful operator (rows AT
    * the watermark are late — StreamingSpec pins this off-by-one), so the
    * retained-marks healing applies only to arrivals the watermark still
    * admits; anything later is dropped wholesale, the standard contract.
    */
  def noFollowupStream(events: DataFrame, fromType: String, toType: String,
      horizonUs: Long, watermarkDelay: String = "0 seconds"): Dataset[NoFollowup] = {
    require(fromType != toType, s"fromType and toType must differ, got '$fromType'")
    require(horizonUs >= 0, s"horizonUs must be >= 0, got $horizonUs")
    import events.sparkSession.implicits._
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"), col("ts"))
      .as[StampedEvent]
      .groupByKey(_.user_id).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, evs: Iterator[StampedEvent], state: GroupState[FollowupState]) =>
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (next, decided) = foldFollowup(state.getOption,
          evs.map(e => TypedEvent(e.user_id, e.event_type, e.tsUs)).toSeq,
          fromType, toType, horizonUs, wmUs)
        if (next.pendingUs.isEmpty && next.purchasesUs.isEmpty) {
          if (state.exists) state.remove()
        } else {
          state.update(next)
          // wake when the earliest pending signup's horizon passes (+1ms
          // after the floor-to-ms: emission needs s + horizon strictly
          // below the watermark). With only purchase marks left, wake
          // just past the LAST mark so the state prunes to empty instead
          // of lingering for an idle user forever
          val timerMs = next.pendingUs.headOption
            .map(s => (s + horizonUs) / 1000L + 1L)
            .getOrElse(next.purchasesUs.last / 1000L + 1L)
          state.setTimeoutTimestamp(timerMs)
        }
        decided.map(NoFollowup(user, _)).iterator
    }
  }

  /** Stream-stream interval join — pair each left event with the SAME
    * user's right events that follow within `toleranceUs` (the
    * "click → purchase within the hour" attribution join; the remaining
    * big structured-streaming operator class after windowed aggs, dedup,
    * stateful sessions and the stream-static gate).
    *
    * Both sides are watermarked and the time-range condition rides the
    * JOIN CONDITION itself, not a post-filter: Spark derives each side's
    * state retention from (watermark delay + the ts range it appears in),
    * so a year-long deployment buffers only ~tolerance+delay of history
    * per side — bounded state by construction. Inner-join matches emit as
    * found (no watermark gating on output); the watermark's job here is
    * state eviction and late-input drop, which StreamingSpec pins.
    *
    * Batch/stream agnostic like every transform in this file: on batch
    * frames the same expression is a user_id equi-join with the range as
    * a join residual — the y05 disagreement entry pins the equivalence.
    *
    * @param left  (user_id, event_id, ts) frame, the earlier side
    * @param right (user_id, event_id, ts) frame, the later side
    * @return (user_id, left_id, right_id, lag_us) — one row per
    *         qualifying pair, lag_us = right.ts − left.ts ∈ [0, tolerance]
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
      toleranceUs: Long, watermarkDelay: String = "0 seconds",
      joinType: String = "inner"): DataFrame = {
    require(toleranceUs >= 0, s"toleranceUs must be >= 0, got $toleranceUs")
    require(joinType == "inner" || joinType == "left_outer" ||
        joinType == "right_outer" || joinType == "full_outer",
      s"joinType must be inner, left_outer, right_outer or full_outer, got $joinType")
    val l0 = if (left.isStreaming) left.withWatermark("ts", watermarkDelay) else left
    val r0 = if (right.isStreaming) right.withWatermark("ts", watermarkDelay) else right
    val l = l0.select(col("user_id"), col("event_id").as("left_id"),
      col("ts").as("left_ts"))
    val r = r0.select(col("user_id").as("__r_user"),
      col("event_id").as("right_id"), col("ts").as("right_ts"))
    l.join(r, col("user_id") === col("__r_user") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr(s"INTERVAL $toleranceUs MICROSECOND"),
        joinType)
      // coalesce: a full-outer right-unmatched row has NULL left columns,
      // and its user lives only in the right side's key copy
      .select(coalesce(col("user_id"), col("__r_user")).as("user_id"),
        col("left_id"), col("right_id"),
        (unix_micros(col("right_ts")) - unix_micros(col("left_ts"))).as("lag_us"))
  }

  /** Batch twin of the STREAMING left-outer interval join: the matched
    * pairs are plain outer-join algebra, but a stream can declare "no
    * right event followed within tolerance" only once the watermark has
    * proven it — a left row whose horizon the final watermark never
    * passed is still buffered, not emitted. This function reproduces that
    * contract on a batch table so the y06 disagreement entry can compare
    * stream ≡ batch EXACTLY: unmatched lefts emit (with null right_id /
    * lag_us) only when `left_ts + tolerance` lies strictly below the
    * final watermark — min of the two sides' max event times (Spark's
    * multiple-watermark min policy), floored to the engine's millisecond
    * watermark resolution.
    *
    * `finalWatermarkUs` is the ms-floored global watermark × 1000; pass
    * the value computed from the SAME frames the stream consumed.
    */
  def intervalJoinBatchLeftOuter(left: DataFrame, right: DataFrame,
      toleranceUs: Long, finalWatermarkUs: Long): DataFrame = {
    val matched = intervalJoinStreams(left, right, toleranceUs)
    // unmatched = ROW-level left_anti on the join condition itself, not
    // an id-keyed anti against the matched output: an id-keyed anti
    // re-emits a matched row whose event_id is NULL (null never equals
    // null) and swallows a genuinely unmatched row that shares its id
    // with a matched one — the condition-anti has per-row semantics for
    // any id content, exactly like the stream's state
    val r = right.select(col("user_id").as("__r_user"), col("ts").as("right_ts"))
    val unmatched = left
      .join(r, col("user_id") === col("__r_user") &&
        col("right_ts") >= col("ts") &&
        col("right_ts") <= col("ts") + expr(s"INTERVAL $toleranceUs MICROSECOND"),
        "left_anti")
      .filter(unix_micros(col("ts")) + lit(toleranceUs) < lit(finalWatermarkUs))
      .select(col("user_id"), col("event_id").as("left_id"),
        lit(null).cast("long").as("right_id"), lit(null).cast("long").as("lag_us"))
    matched.unionByName(unmatched)
  }

  /** Batch twin of the STREAMING full-outer interval join: [[
    * intervalJoinBatchLeftOuter]]'s matched + left-unmatched algebra
    * composed with its mirror on the RIGHT side, both under the same
    * min-policy final watermark. The two null-row emission horizons are
    * ASYMMETRIC, straight from the range condition `right_ts ∈ [left_ts,
    * left_ts + tol]`: a LEFT row is provably unmatched only once the
    * watermark passes `left_ts + tol` (a future right inside the horizon
    * could still match), while a RIGHT row is provably unmatched once the
    * watermark passes its OWN `right_ts` — any left it could pair with
    * has `left_ts ≤ right_ts`, and inputs below the watermark are dropped
    * as late. Both boundaries strict, matching the engine's state
    * eviction (StreamingSpec pins rows held on each side past the
    * watermark; the y08 entry pins the full contract under the driver
    * gate).
    */
  def intervalJoinBatchFullOuter(left: DataFrame, right: DataFrame,
      toleranceUs: Long, finalWatermarkUs: Long): DataFrame =
    intervalJoinBatchLeftOuter(left, right, toleranceUs, finalWatermarkUs)
      .unionByName(rightUnmatched(left, right, toleranceUs, finalWatermarkUs))

  /** Batch twin of the STREAMING right-outer interval join (the last
    * Spark-supported stream-stream interval-join type): matched pairs +
    * unmatched rights under the full-outer contract's right-side horizon
    * — a RIGHT row is provably unmatched once the watermark passes its
    * OWN `right_ts` (any left it could pair with has `left_ts ≤
    * right_ts`, and inputs below the watermark drop as late), strict
    * boundary. The y09 entry pins the contract under the driver gate.
    */
  def intervalJoinBatchRightOuter(left: DataFrame, right: DataFrame,
      toleranceUs: Long, finalWatermarkUs: Long): DataFrame =
    intervalJoinStreams(left, right, toleranceUs)
      .unionByName(rightUnmatched(left, right, toleranceUs, finalWatermarkUs))

  /** Right-unmatched rows of the outer interval-join twins: the
    * condition-level anti join mirrored onto the right side (an id-keyed
    * anti has the identical null/shared-id traps on this side), gated at
    * the right row's OWN ts against the final watermark.
    */
  private def rightUnmatched(left: DataFrame, right: DataFrame,
      toleranceUs: Long, finalWatermarkUs: Long): DataFrame = {
    val l = left.select(col("user_id").as("__l_user"), col("ts").as("left_ts"))
    right
      .join(l, col("user_id") === col("__l_user") &&
        col("ts") >= col("left_ts") &&
        col("ts") <= col("left_ts") + expr(s"INTERVAL $toleranceUs MICROSECOND"),
        "left_anti")
      .filter(unix_micros(col("ts")) < lit(finalWatermarkUs))
      .select(col("user_id"), lit(null).cast("long").as("left_id"),
        col("event_id").as("right_id"), lit(null).cast("long").as("lag_us"))
  }

  case class TypeProfile(user_id: Long, n_events: Long, n_types: Long,
      first_type: String)

  /** The [[typeProfileStream]] processor — Spark 4's `transformWithState`
    * arbitrary-state API (StatefulProcessor, SPARK-46815), the successor
    * to mapGroupsWithState/flatMapGroupsWithState used elsewhere in this
    * file: instead of ONE opaque state case class serialized whole per
    * key per batch, the handle exposes NAMED, individually-typed state
    * variables — here a ValueState[Long] running event count and a
    * MapState[String, Long] of first-seen event time per event type. At
    * 100 TB the distinction is structural: a MapState entry is its own
    * RocksDB key, so touching one event type reads/writes one entry, not
    * a whole per-user blob (the mapGroupsWithState failure mode when the
    * per-key state grows wide).
    *
    * Per input batch it emits the key's RUNNING profile (update-mode
    * semantics): total events, distinct types, and the type whose first
    * occurrence is earliest (ties broken by type name — the batch twin's
    * lexicographic (ts, type) min, so stream ≡ batch holds exactly
    * however the file source batches the input).
    */
  class TypeProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEvent, TypeProfile] {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var nEvents: ValueState[Long] = _
    @transient private var firstSeen: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nEvents = getHandle.getValueState("n_events", E.scalaLong, TTLConfig.NONE)
      firstSeen = getHandle.getMapState("first_seen",
        E.STRING, E.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeProfile] = {
      var n = if (nEvents.exists()) nEvents.get() else 0L
      rows.foreach { r =>
        // null-typed events are SKIPPED (not counted): a null MapState
        // key would fail at runtime, and [[typeProfileStream]] filters
        // them before grouping — this in-processor skip keeps the same
        // semantics for any caller driving the processor directly
        // (round 18, advisor find)
        if (r.event_type != null) {
          n += 1
          // keep the MIN ts per type: file-source batches need not arrive
          // in event-time order, and the batch twin takes the true min
          if (!firstSeen.containsKey(r.event_type) ||
              r.tsUs < firstSeen.getValue(r.event_type))
            firstSeen.updateValue(r.event_type, r.tsUs)
        }
      }
      nEvents.update(n)
      val entries = firstSeen.iterator().toSeq // bounded: distinct types
      // a batch of only null-typed rows on a fresh key leaves no entries:
      // emit nothing rather than minBy on empty
      if (entries.isEmpty) Iterator.empty
      else {
        val first = entries.minBy { case (tp, ts) => (ts, tp) }._1
        Iterator.single(TypeProfile(key, n, entries.size.toLong, first))
      }
    }
  }

  /** Per-user event-type profile via `transformWithState` — see
    * [[TypeProfileProcessor]]. TimeMode.None: the profile is
    * monotone-accumulating, no timers or watermark needed; state is
    * bounded at (1 value + n_distinct_types map entries) per user by
    * construction. REQUIRES the RocksDB state-store provider (Spark
    * rejects transformWithState on the default HDFS-backed provider) —
    * scope the call inside [[withStateStoreProvider]]. Batch/stream
    * agnostic like the rest of this file is not possible here (the
    * operator is stream-only), so the y11 entry compares against the
    * single-aggregate batch twin instead.
    */
  def typeProfileStream(events: DataFrame): Dataset[TypeProfile] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // null-typed events carry no type signal and would be null MapState
      // keys — filtered HERE (not left to caller discipline), matching
      // the y11 batch twin's predicate (round 18, advisor find)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Streaming exact dedup on a key (the at-least-once-delivery dedup every
    * event pipeline needs): duplicates arriving within the watermark window
    * are dropped with bounded state.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame = {
    require(keyCols.nonEmpty, "dedupStream needs at least one key column")
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Shared projection of both near-dup-gate sides: (id, signature, band,
    * bucket) — one row per band, batch/stream agnostic.
    */
  private def withBuckets(df: DataFrame, idCol: String, textCol: String,
      idAs: String, sigAs: String, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    df.select(col(idCol).as(idAs),
        graft.operators.Dedup.minhashSignature(col(textCol), k).as(sigAs))
      .select(col(idAs), col(sigAs),
        graft.operators.Dedup.bandBuckets(col(sigAs), bands, r).as(Seq("band", "bucket")))
  }

  /** The corpus signature index the near-dup gate probes: (corpus_id,
    * corpus_sig, band, bucket). Build it ONCE, `.persist()` it yourself,
    * and pass it to [[nearDupAgainstCorpus]] — a stream-static join
    * re-evaluates the static plan every micro-batch, so an unpersisted
    * index re-tokenizes + re-hashes the whole corpus per trigger. Owning
    * the reference also means YOU can `.unpersist()` it when the gate
    * re-arms against a refreshed corpus (an internal persist would pin one
    * cached copy per call with no way to release it).
    */
  def corpusSignatureIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    withBuckets(corpus, idCol, textCol, "corpus_id", "corpus_sig", k, bands)
  }

  /** Streaming near-duplicate gate against a STATIC corpus: each arriving
    * document's MinHash signature and LSH band buckets are computed in the
    * stream's projection (per-row native expression — no state), then a
    * stream-static equi-join on (band, bucket) against `corpusIndex`
    * (from [[corpusSignatureIndex]], persisted by the caller) surfaces
    * candidates and the signature estimate filters to real near-dups.
    */
  def nearDupAgainstCorpusIndex(stream: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    import graft.operators.Dedup.bandHash
    val streamBuckets = withBuckets(stream, idCol, textCol, "doc_id", "sig", k, bands)
    // one row per pair WITHOUT stateful dedup (streaming dropDuplicates
    // would grow state forever): keep a pair only on its FIRST matching
    // band — earlier bands are re-checked from the two signatures already
    // on the joined row, so the filter is stateless and exact.
    val earlierBandMatch = exists(sequence(lit(0), col("band") - 1),
      j => bandHash(col("sig"), j, r) === bandHash(col("corpus_sig"), j, r))
    // band 0 guard: sequence(0, -1) would descend, not be empty
    val firstBandOnly = col("band") === 0 || !earlierBandMatch
    streamBuckets.join(corpusIndex, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("corpus_id") && firstBandOnly)
      .select(col("doc_id"), col("corpus_id"),
        graft.operators.Dedup.signatureSimilarity(col("sig"), col("corpus_sig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Convenience variant building the index from the raw corpus, UNCACHED:
    * fine for one-shot local runs; long-running deployments should build
    * [[corpusSignatureIndex]] once, persist it, and use
    * [[nearDupAgainstCorpusIndex]] so they own the cache lifecycle.
    */
  def nearDupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    nearDupAgainstCorpusIndex(stream,
      corpusSignatureIndex(corpus, idCol, textCol, k, bands),
      idCol, textCol, k, bands, threshold)

  /** Run a streaming DataFrame to a named in-memory table and block until
    * all available input is processed (local smoke path).
    *
    * @param availableNow use Trigger.AvailableNow instead of
    *        processAllAvailable: the query processes everything AND runs
    *        the trailing no-data micro-batches that advance the watermark
    *        and flush watermark-gated state (outer-join null emissions,
    *        final appends) before terminating itself — required whenever
    *        the result depends on state the LAST watermark advance
    *        releases, which processAllAvailable returns too early to see
    */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode,
      availableNow: Boolean = false): DataFrame =
    runToMemoryStateMetrics(df, name, outputMode, availableNow)._1

  /** [[runToMemory]] plus the per-operator state-store progress the query
    * reported — numRowsTotal, memory/disk usage, and the provider's
    * custom metrics (a RocksDB-backed run reports rocksdb* keys). This is
    * how a 100 TB deployment watches its state: the same
    * StreamingQueryProgress a production listener would export, captured
    * from the bounded smoke so provider behavior is PINNABLE in tests
    * (StreamingSpec asserts RocksDB is actually engaged, not silently
    * defaulted) rather than inferred.
    */
  def runToMemoryStateMetrics(df: DataFrame, name: String, outputMode: OutputMode,
      availableNow: Boolean = false)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StateOperatorProgress]) =
    withStatePartitions(df.sparkSession) {
      val spark = df.sparkSession
      val writer = df.writeStream.format("memory").queryName(name).outputMode(outputMode)
      // finally: a failed query must not stay registered (it would collide
      // with the next start() under the same name and leak its sink state),
      // and the sink's temp view must not outlive the call either. The
      // returned frame is analyzed before the view is dropped, so it reads
      // the sink's rows directly and keeps them alive only as long as it
      // lives itself
      val q =
        if (availableNow)
          writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        else writer.start()
      try {
        try { if (availableNow) q.awaitTermination() else q.processAllAvailable() }
        finally q.stop()
        (spark.table(name), q.recentProgress.toSeq.flatMap(_.stateOperators))
      } finally spark.catalog.dropTempView(name)
    }

  /** The shuffle-partition cap for a stream started by [[withStatePartitions]]. */
  private val StatePartitions = 8

  /** Run `body` (which must START and FINISH its streaming queries inside)
    * with `spark.sql.shuffle.partitions` scoped DOWN to the streaming
    * state-partition count, restoring the caller's value in finally.
    *
    * A streaming query pins its state layout to the shuffle-partition
    * conf at FIRST start, and every micro-batch then commits one delta
    * file (+ CRC) per state store per partition — four stores per
    * partition for a stream-stream join. State partitioning is sized to
    * STATE VOLUME, not to the session's batch-side core count: these
    * bounded smoke streams hold well under a megabyte of state, so
    * core-count partitions just multiply per-batch file commits by
    * cores/8 for nothing (guide §2.2's many-tiny-blocks lesson applied to
    * checkpoint I/O — measured 107k -> 16k task-ms on the y09 entry at 32
    * cores). The cap is [[StatePartitions]]; a session whose shuffle
    * conf is already lower keeps its own value. A checkpoint carries the
    * partition count it first started with, so a stream resumed from an
    * older checkpoint keeps that count. Scoped, never global: the conf is
    * restored after the query stops, so batch-side plans in the same
    * entry keep the session's sizing. Results are
    * partition-count-independent (the batch twins and DuckDB oracles pin
    * that).
    */
  private def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    GraftSession.withConf(spark, key,
      math.min(spark.conf.get(key).toInt, StatePartitions).toString)(body)
  }

  /** Spark's RocksDB state-store provider (public class, Spark 3.2+) —
    * the 100 TB streaming answer: keyed state lives in a local RocksDB
    * instance (off-heap block cache + SST files on local disk,
    * incremental checkpoints) instead of the default provider's
    * executor-HEAP hash map, so state size is bounded by local disk, not
    * by heap — the difference between a watermark-bounded join state
    * that fits and an executor OOM at production stream volumes.
    */
  val RocksDbStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's streaming state-store provider swapped
    * to `providerClass`, restoring the previous setting in finally. The
    * conf is read at query START, so every stream started inside `body`
    * uses the given provider while already-running queries keep theirs.
    * The y-family's contracts are provider-INDEPENDENT — y10 pins that
    * under the driver gate; this helper keeps the swap scoped so one
    * entry's provider choice can't leak into the rest of a sweep.
    */
  def withStateStoreProvider[T](spark: SparkSession, providerClass: String)(body: => T): T =
    GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass", providerClass)(body)

  /** Exactly-once THROUGH A RESTART (round 18) — the recovery contract the
    * single-run y-entries can't see: production streams die and resume
    * from their checkpoint, and the resumed run must neither re-emit what
    * the dead run committed nor lose what it hadn't. The session-window
    * aggregation runs as TWO SEPARATE QUERY INSTANCES over one checkpoint
    * and one fault-tolerant FILE sink (memory sinks reject recovery —
    * only a replayable sink makes the claim testable): instance 1
    * consumes the first half of the input and stops; the second half
    * lands; instance 2 starts COLD from the checkpoint — offsets, session
    * state, and the accumulated watermark all come from what instance 1
    * committed — and appends only what the final watermark newly decides.
    * Reading the sink afterwards goes through its `_spark_metadata`
    * commit log, so only atomically committed files count (a batch that
    * died mid-write is invisible — the same log that makes a true
    * mid-batch kill replay exactly-once; stopping at a commit boundary
    * exercises that identical recovery path deterministically).
    *
    * The input split is TIME-ORDERED (at the midpoint of the ts range):
    * a stream's later files carry later events, and this is what makes
    * restart ≡ uninterrupted exact — every session instance 1's watermark
    * finalized ended gap-before every instance-2 event, so no restart can
    * resurrect or split it (the y12 entry diffs the two-run total against
    * the single-pass batch twin; an arrival-interleaved split would make
    * instance-2 events late-and-dropped, which is watermark semantics,
    * not a recovery defect).
    *
    * @param events BATCH events frame (user_id, ts µs), pre-cleaned of
    *        null user_id/ts
    * @return the sink's committed total across both instances:
    *         (user_id, sess_start, sess_end, n_events)
    */
  def restartRecoverySessions(events: DataFrame, gapUs: Long = 1800L * 1000000L)
      : DataFrame = {
    require(!events.isStreaming,
      "restartRecoverySessions takes the BATCH events frame; it builds its own streams")
    val spark = events.sparkSession
    withRecoveryDirs("graft-restart") { (land, ckpt, out) =>
      val mm = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      require(!mm.isNullAt(0), "restartRecoverySessions: no non-null ts rows")
      val splitUs = mm.getLong(0) / 2 + mm.getLong(1) / 2
      val schema = events.schema
      def deliver(pred: org.apache.spark.sql.Column): Unit =
        events.filter(pred).coalesce(1).write.mode("append").parquet(land)
      deliver(unix_micros(col("ts")) <= splitUs)
      runRecoveryInstance(spark, schema, land, ckpt, out, gapUs)
      // ^ instance 1: first half, stop at a commit boundary
      deliver(unix_micros(col("ts")) > splitUs)
      runRecoveryInstance(spark, schema, land, ckpt, out, gapUs)
      // ^ instance 2: cold start from the checkpoint
      spark.read.parquet(out)
    }
  }

  /** One query instance of the recovery twins: AvailableNow over the
    * landing dir, session-window aggregation, append to the file sink
    * through one shared checkpoint; blocks until the instance stops
    * itself.
    */
  private def runRecoveryInstance(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, land: String,
      ckpt: String, out: String, gapUs: Long): Unit =
    // scoped state partitioning like runToMemoryStateMetrics — all three
    // instances share one checkpoint, and the FIRST pins the layout the
    // later ones recover into, so the scope must cover every instance
    // launch (it does: each instance start()s and stops inside its call)
    withStatePartitions(spark) {
      val q = sessionWindowCounts(
          spark.readStream.schema(schema).parquet(land), gapUs)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }

  /** Temp landing/checkpoint/sink dirs for the recovery twins, deleted in
    * a finally (round 19, advisor find: the y12 entry runs every sweep
    * and leaked three dirs of parquet per invocation). The body must
    * MATERIALIZE anything it reads from them before returning —
    * [[restartRecoverySessions]]/[[midBatchKillRecoverySessions]] end
    * with an eager localCheckpoint of the (tiny) committed session set.
    */
  private def withRecoveryDirs(prefix: String)
      (body: (String, String, String) => DataFrame): DataFrame = {
    val dirs = Seq("land", "ckpt", "out")
      .map(s => java.nio.file.Files.createTempDirectory(s"$prefix-$s"))
    try body(dirs(0).toString, dirs(1).toString, dirs(2).toString)
      .localCheckpoint(true)
    finally dirs.foreach { d =>
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(d)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** Exactly-once through a MID-BATCH kill (round 19) — the harder twin
    * of [[restartRecoverySessions]], exercising the claim that entry
    * only argued: what happens when the query dies AFTER the sink
    * committed a batch but BEFORE the checkpoint's commit log recorded
    * it (the crash window Spark's two-log protocol exists for). Three
    * time-ordered deliveries run as three query instances over one
    * checkpoint; after instance 2 completes, the checkpoint's LATEST
    * commit-log entry is deleted — byte-for-byte the on-disk state a
    * kill inside that window leaves behind: `offsets/N` plans batch N,
    * the sink's `_spark_metadata` already holds batch N, `commits/N` is
    * missing. Instance 3 must therefore RE-EXECUTE batch N (state store
    * reloads version N's predecessor, the file source replays the exact
    * file list `offsets/N` recorded) — and the sink's own commit log
    * makes the replayed write a NO-OP (batch N is already committed), so
    * nothing duplicates; it then processes the third delivery on top of
    * the recovered state, so nothing is lost. The committed total must
    * equal the single-pass batch twin exactly — the y13 entry diffs
    * them; StreamingSpec additionally pins a session SPANNING the kill
    * point on a hand-built fixture.
    *
    * @param events BATCH events frame (user_id, ts µs), pre-cleaned of
    *        null user_id/ts
    * @return the sink's committed total across the three instances:
    *         (user_id, sess_start, sess_end, n_events)
    */
  def midBatchKillRecoverySessions(events: DataFrame, gapUs: Long = 1800L * 1000000L)
      : DataFrame = {
    require(!events.isStreaming,
      "midBatchKillRecoverySessions takes the BATCH events frame; it builds its own streams")
    val spark = events.sparkSession
    withRecoveryDirs("graft-midkill") { (land, ckpt, out) =>
      val mm = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      require(!mm.isNullAt(0), "midBatchKillRecoverySessions: no non-null ts rows")
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      // time-ordered terciles (the y12 rationale: later deliveries carry
      // later events, so watermark semantics cannot drop a replayed
      // session — any mismatch is a recovery defect, not lateness)
      val cut1 = lo + (hi - lo) / 3
      val cut2 = lo + 2 * ((hi - lo) / 3)
      val schema = events.schema
      def deliver(pred: org.apache.spark.sql.Column): Unit =
        events.filter(pred).coalesce(1).write.mode("append").parquet(land)
      def latestCommit(): Long = {
        val commitDir = new java.io.File(ckpt, "commits")
        Option(commitDir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.forall(_.isDigit))
          .map(_.getName.toLong).foldLeft(-1L)(math.max)
      }
      deliver(unix_micros(col("ts")) <= cut1)
      runRecoveryInstance(spark, schema, land, ckpt, out, gapUs) // batch 0
      val afterFirst = latestCommit()
      deliver(unix_micros(col("ts")) > cut1 && unix_micros(col("ts")) <= cut2)
      runRecoveryInstance(spark, schema, land, ckpt, out, gapUs) // batch N
      // the kill window must belong to INSTANCE 2 (round-19 review find):
      // an empty middle tercile would leave instance 2 batch-less, the
      // truncation would instead erase instance 1's entry, and the
      // "kill after instance 2's sink commit" claim would pass vacuously
      // — fail loudly instead of simulating nothing.
      require(latestCommit() > afterFirst,
        "midBatchKillRecoverySessions: instance 2 committed no batch (empty middle " +
          s"time-tercile — events cluster outside ($cut1, $cut2]); the mid-batch kill " +
          "cannot be exercised on this input")
      // the kill: drop the newest commit-log entry. offsets/N and the
      // sink's _spark_metadata entry for N survive — the exact crash
      // window between sink commit and commit-log write.
      val commitDir = new java.io.File(ckpt, "commits")
      val entries = Option(commitDir.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.forall(_.isDigit))
      require(entries.nonEmpty,
        s"midBatchKillRecoverySessions: no commit-log entries under $commitDir")
      val newest = entries.maxBy(_.getName.toLong)
      require(newest.delete(),
        s"midBatchKillRecoverySessions: could not truncate commit log at $newest")
      // the local checksum fs keeps a `.N.crc` sidecar per log entry; a
      // real kill never wrote either file, so the simulation must drop
      // both — a stale sidecar makes the re-commit's rename fail as
      // FileAlreadyExists and Spark reads that as a concurrent query
      new java.io.File(commitDir, s".${newest.getName}.crc").delete()
      deliver(unix_micros(col("ts")) > cut2)
      runRecoveryInstance(spark, schema, land, ckpt, out, gapUs)
      // ^ instance 3: replays batch N (sink skips — already committed),
      //   then processes the third delivery on the recovered state
      spark.read.parquet(out)
    }
  }
}
