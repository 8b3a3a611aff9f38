package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}

/** Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each transform is written against a plain DataFrame so the SAME
  * code runs in batch (for the DuckDB-oracle correctness gate) and
  * under Structured Streaming (`spark.readStream` — tested with the
  * file source). Watermarks gate state growth; sessionization uses
  * typed state with an idle timeout so state size is O(active users),
  * not O(events).
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type. On a stream, add
    * `.withWatermark("ts", ...)` upstream; the aggregation itself is
    * identical. Decimal sum keeps the result order-independent (bit-
    * equal under any partitioning).
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"),
      )
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"),
      )

  /** Streaming flavor with watermarked window (late data beyond the
    * watermark dropped; state pruned continuously).
    */
  def hourlyRollupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"),
      )
      .select(
        col("window.start").as("hour"),
        col("event_type"),
        col("n_events"),
        col("sum_value"),
      )

  /** Batch sessionization: a session breaks after `gapSeconds` of user
    * inactivity. Window-function formulation (lag + running sum) —
    * one shuffle on user_id; session_id is deterministic
    * (user_id, session ordinal).
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // null ts dropped like every streaming sessionize face: the window
    // would sort it FIRST, open a phantom session, and shift every
    // real row's ordinal — batch and stream must agree on dirty inputs
    events
      .where(col("ts").isNotNull)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ms").isNull ||
            (unix_millis(col("ts")) - col("prev_ms")) > gapSeconds * 1000,
          1,
        ).otherwise(0),
      )
      .withColumn("session_seq", sum("new_session").over(byUser))
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        col("session_seq"),
      )
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class SessionState(sessionSeq: Long, lastMs: Long, count: Long)
  final case class SessionAssignment(event_id: Long, user_id: Long, session_seq: Long)

  /** A row with a null `ts` has no position on the event-time line:
    * it cannot be ordered against a watermark, and the per-key steps
    * dereference the timestamp — one poison row would kill a
    * long-running query. Dropped at each stateful face's boundary
    * (the batch as-of operator's "null matches nothing" rule; here
    * the row is dropped outright since there is no timeline slot to
    * emit it in). Columnar `where`, so the filter stays in codegen
    * and can push into the source scan.
    */
  private def dropNullTs(events: Dataset[Event]): Dataset[Event] =
    events.where(col("ts").isNotNull)

  /** Streaming sessionization via typed per-user state
    * (`flatMapGroupsWithState`): state = (current session ordinal,
    * last-seen time). Semantics match [[sessionize]] when events
    * arrive in ts order per user.
    *
    * `expireState = true` (production default) prunes idle users with
    * a processing-time timeout so state stays O(active users); note
    * that timeouts make the engine schedule periodic empty batches, so
    * bounded-input tests that wait for quiescence should pass `false`.
    */
  def sessionizeStream(
      events: Dataset[Event],
      gapSeconds: Long = 1800L,
      expireState: Boolean = true,
  ): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    val timeoutKind =
      if (expireState) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    dropNullTs(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutKind)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (expireState && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val init = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val (s, out) =
              sessionizeStep(userId, rows, init, gapSeconds * 1000, Long.MinValue)
            state.update(s)
            if (expireState) state.setTimeoutDuration(s"${gapSeconds * 2} seconds")
            out.iterator.map(a => SessionAssignment(a.event_id, a.user_id, a.session_seq))
          }
        },
      )
  }

  /** Event-time (watermark-driven) flavor of [[sessionizeStream]]:
    * identical session assignment, but idle state expires when the
    * WATERMARK passes lastSeen + gap, not after wall-clock idleness —
    * so replaying historical data cannot mass-expire live sessions,
    * bounded inputs quiesce cleanly (no processing-time re-batches),
    * and state size is governed by event-time progress. The watermark
    * is applied here on `ts` with `watermarkDelay` lateness.
    */
  def sessionizeStreamEventTime(
      events: Dataset[Event],
      gapSeconds: Long = 1800L,
      watermarkDelay: String = "1 hour",
  ): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    dropNullTs(events)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val init = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val (s, out) =
              sessionizeStep(userId, rows, init, gapSeconds * 1000, Long.MinValue)
            state.update(s)
            // expire once the watermark passes the session gap; the
            // timestamp must sit strictly above the current watermark
            state.setTimeoutTimestamp(
              math.max(s.lastMs + gapSeconds * 1000, state.getCurrentWatermarkMs + 1),
            )
            out.iterator.map(a => SessionAssignment(a.event_id, a.user_id, a.session_seq))
          }
        },
      )
  }

  /** [[SessionAssignment]] plus the event's `ts` and `emit_ts` — the
    * event-time column [[sessionizeStreamTws]] re-declares, with the
    * same contract as [[AsofHitEmit]]: `emit_ts = max(ts,
    * watermark + 1 ms)` on streams (an assignment is emitted the
    * moment it is computed, which for a late event is after its own
    * event time passed the watermark), `emit_ts = ts` on bounded
    * frames. The same trigger-cadence caveat applies: downstream
    * `emit_ts`-windowed aggregates over watermark-clamped rows
    * depend on microbatch boundaries; group on the carried `ts` for
    * replay-deterministic offline re-aggregation —
    * [[reaggregateByEventTime]] for windowed rollups,
    * [[reaggregateSessions]] for per-(user, session ordinal) rollups
    * over this sink's own key.
    */
  final case class SessionAssignmentEmit(
      event_id: Long, user_id: Long, ts: Timestamp, session_seq: Long,
      emit_ts: Timestamp)

  /** The EXACT per-user sessionization step every face shares
    * (batch, fMGWS, TWS — extracting it is what keeps the faces from
    * drifting, the as-of family's recipe): fold this trigger's rows
    * in (ts, event_id) order through the (session ordinal, lastSeen)
    * state, opening a new session when the gap exceeds `gapMs`.
    * Returns the advanced state (unchanged if `rows` was empty) and
    * the per-event assignments stamped with
    * `emit_ts = max(ts, wmMs + 1)`.
    */
  private def sessionizeStep(
      userId: Long,
      rows: Iterator[Event],
      init: SessionState,
      gapMs: Long,
      wmMs: Long): (SessionState, Seq[SessionAssignmentEmit]) = {
    var s = init
    val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
      val ms = e.ts.getTime
      s =
        if (s.lastMs == Long.MinValue || ms - s.lastMs > gapMs)
          SessionState(s.sessionSeq + 1, ms, 1L)
        else SessionState(s.sessionSeq, ms, s.count + 1)
      SessionAssignmentEmit(e.event_id, userId, e.ts, s.sessionSeq,
        new Timestamp(math.max(ms, wmMs + 1)))
    }
    (s, out)
  }

  /** [[sessionizeStep]] hosted in a `StatefulProcessor` — the
    * [[sessionizeStreamEventTime]] semantics (same step; idle state
    * expires when the WATERMARK passes lastSeen + gap, clamped just
    * past the current watermark) under `transformWithState`.
    */
  private final class SessionizeProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, SessionAssignmentEmit] {
    @transient private var st: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(
        userId: Long, rows: Iterator[Event], tv: TimerValues): Iterator[SessionAssignmentEmit] = {
      val init = if (st.exists()) st.get() else SessionState(0L, Long.MinValue, 0L)
      val (s, out) = sessionizeStep(
        userId, rows, init, gapMs, tv.getCurrentWatermarkInMs)
      if (s.lastMs != Long.MinValue) {
        st.update(s)
        StreamingDedup.resetTimer(getHandle, s.lastMs, gapMs, tv)
      }
      out.iterator
    }
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionAssignmentEmit] = {
      st.clear()
      Iterator.empty
    }
  }

  /** [[sessionizeStreamEventTime]] under `transformWithState` — the
    * same per-user session assignment and watermark-driven idle-state
    * expiry (state expires once the watermark passes lastSeen + gap,
    * so session ordinals restart at 1 for a user who returns after
    * expiry — the fMGWS face's documented behavior, mirrored), but
    * CHAINABLE: the stage re-declares `emit_ts` (see
    * [[SessionAssignmentEmit]]) as its output event-time column, so
    * session analytics can feed FURTHER stateful operators (windowed
    * rollups, dedup, as-of enrichment) in the same query — the plan
    * the fMGWS faces cannot participate in. All three faces run the
    * shared [[sessionizeStep]], so their assignments cannot drift.
    * Bounded frames evaluate the step per user directly (no state,
    * `emit_ts = ts`). Streaming requires the RocksDB state store
    * provider; keep [[sessionizeStreamEventTime]] for older stores.
    */
  def sessionizeStreamTws(
      events: Dataset[Event],
      gapSeconds: Long = 1800L,
      watermarkDelay: String = "1 hour",
  ): Dataset[SessionAssignmentEmit] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    val evs = dropNullTs(events)
    if (!events.isStreaming)
      evs
        .groupByKey(_.user_id)
        .flatMapGroups { (userId: Long, rows: Iterator[Event]) =>
          sessionizeStep(userId, rows,
            SessionState(0L, Long.MinValue, 0L), gapMs, Long.MinValue)._2.iterator
        }
    else
      StreamingDedup
        .ensureWatermark(evs.toDF(), "ts", watermarkDelay)
        .as[Event]
        .groupByKey(_.user_id)
        .transformWithState(
          new SessionizeProcessor(gapMs), "emit_ts", OutputMode.Append())
  }

  /** Event-time sessionization: watermark-driven session WINDOWS via
    * `session_window` — Spark's native gap-based session aggregation.
    * Emits one row per closed session (user, start, end, event count,
    * value sum) once the watermark passes the session gap; state is
    * pruned by event time, so late-data handling and state size are
    * governed by `watermark`, not wall clock. Works identically in
    * batch mode (no watermark needed) for oracle-style checks.
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: Option[String] = Some("1 hour"),
  ): DataFrame = {
    // null ts: streaming would drop the row at the watermark's late
    // filter while batch would group it under a null window — filter
    // in both modes so the batch face stays the streaming oracle
    val live = events.where(col("ts").isNotNull)
    val base = watermark match {
      case Some(w) if events.isStreaming => live.withWatermark("ts", w)
      case _                             => live
    }
    base
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"),
      )
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"),
        col("sum_value"),
      )
  }

  /** Streaming exact dedup by content fingerprint: keeps the FIRST
    * document seen per (whitespace-normalized) content within the
    * watermark horizon — the streaming face of
    * [[graft.operators.Dedup.exactDedup]] for continuous ingestion.
    *
    * State design: `dropDuplicatesWithinWatermark` keys state by the
    * 8-byte fingerprint (never the text) and evicts each entry once
    * the watermark passes its event time + delay, so state is
    * O(distinct docs per watermark window) — bounded by ingest rate ×
    * horizon, independent of total corpus size. Duplicates arriving
    * FARTHER apart than the horizon are the Bloom-filter path's job
    * ([[graft.operators.Dedup.newDocsOnly]] against the standing
    * corpus); the two compose: stream-dedup the firehose, bloom-check
    * survivors against history.
    *
    * In batch mode the same call keeps the EARLIEST row (by `tsCol`)
    * per fingerprint — the deterministic equivalent of streaming
    * first-arrival when input order follows event time.
    */
  def dedupStream(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermarkDelay: String = "10 minutes",
  ): DataFrame = {
    // null ts dropped in BOTH modes: "first" has no meaning at a null
    // time (batch would sort it ahead of every real copy and keep it),
    // and the streaming path needs an event-time position per row
    val withFp = docs.where(col(tsCol).isNotNull).withColumn(
      "content_fp",
      graft.operators.TextAnalysis.contentFingerprintUdf(col(textCol)),
    )
    if (docs.isStreaming)
      withFp
        .withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark("content_fp")
    else {
      import org.apache.spark.sql.expressions.Window
      withFp
        .withColumn(
          "__rn",
          row_number().over(Window.partitionBy("content_fp").orderBy(col(tsCol))),
        )
        .where(col("__rn") === 1)
        .drop("__rn")
    }
  }

  /** [[dedupStream]] under `transformWithState` — identical
    * keep-first-by-content-fingerprint semantics (a budget-1
    * [[StreamingWebIngest.BudgetProcessor]] keyed by the fingerprint,
    * with an event-time GC timer standing in for
    * `dropDuplicatesWithinWatermark`'s horizon), but CHAINABLE: the
    * stage re-declares its event-time column, so further stateful
    * operators can plan downstream in the same query. Ties within a
    * trigger break by (event time, `idCol`) — also the batch-mode
    * window order here, which makes this face deterministic where
    * [[dedupStream]]'s batch path leaves equal-timestamp ties to plan
    * order. Output carries a `content_fp` column like [[dedupStream]].
    *
    * State retention mirrors `dropDuplicatesWithinWatermark`: a
    * fingerprint lives for the WATERMARK DELAY past its first
    * occurrence (derived from `watermarkDelay`; pass `horizonMs` > 0
    * to choose a different dedup horizon). This keeps the TWS face's
    * keep/drop verdicts aligned with [[dedupStream]]'s — a duplicate
    * arriving after the horizon is re-admitted by BOTH faces.
    * Streaming requires the RocksDB state store provider; keep the
    * `dropDuplicatesWithinWatermark` face for older state stores.
    */
  def dedupStreamTws(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = -1L,
  ): DataFrame = {
    // same null-ts rule as [[dedupStream]] — keeps the batch window,
    // the fMGWS face, and the TWS face agreeing on dirty inputs
    val withFp = docs.where(col(tsCol).isNotNull).withColumn(
      "content_fp",
      graft.operators.TextAnalysis.contentFingerprintUdf(col(textCol)),
    )
    if (!docs.isStreaming) {
      import org.apache.spark.sql.expressions.Window
      withFp
        .withColumn(
          "__rn",
          row_number().over(
            Window.partitionBy("content_fp").orderBy(col(tsCol), col(idCol))),
        )
        .where(col("__rn") === 1)
        .drop("__rn")
    } else {
      val fpIdx = withFp.schema.fieldIndex("content_fp")
      val tsIdx = withFp.schema.fieldIndex(tsCol)
      val idIdx = withFp.schema.fieldIndex(idCol)
      val rowEnc = org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(withFp.schema.fields))
      val hMs = if (horizonMs > 0L) horizonMs else StreamingDedup.delayToMs(watermarkDelay)
      // a zero/negative horizon would never arm the GC timer
      // (BudgetProcessor's `horizonMs > 0` gate) — fingerprint state
      // would grow unboundedly and duplicates be suppressed FOREVER,
      // silently diverging from dropDuplicatesWithinWatermark's
      // immediate eviction at delay 0. Fail loudly instead.
      require(hMs > 0L,
        s"dedupStreamTws: dedup horizon must be positive, got ${hMs}ms " +
          s"(watermarkDelay='$watermarkDelay', horizonMs=$horizonMs) — " +
          "a 0-delay watermark needs an explicit horizonMs > 0")
      StreamingDedup
        .ensureWatermark(withFp, tsCol, watermarkDelay)
        .groupByKey((r: Row) => java.lang.Long.toHexString(r.getLong(fpIdx)))(
          org.apache.spark.sql.Encoders.STRING)
        .transformWithState(
          new StreamingWebIngest.BudgetProcessor(1L, hMs, tsIdx, idIdx),
          tsCol, org.apache.spark.sql.streaming.OutputMode.Append())(rowEnc)
    }
  }

  /** Score a stream of feature arrays with a registered model — the
    * streaming face of `ml_pred`: [[graft.MlFunctions.predictCol]]'s
    * native `MlpPredict` expression works unchanged because it is
    * stateless per row.
    */
  def scoreStream(spark: SparkSession, events: DataFrame, modelName: String, features: org.apache.spark.sql.Column): DataFrame =
    events.withColumn("prediction", graft.MlFunctions.predictCol(spark, modelName, features))

  final case class AsofSideRow(side: Int, user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  final case class AsofRightState(tsUs: Long, ts: Timestamp, eventId: Long, value: Double)

  /** The as-of faces' shared input boundary: null-ts rows dropped
    * ([[dropNullTs]]), left tagged side=1, right side=0. One place so
    * the six faces (backward/forward/nearest × fMGWS/TWS) cannot
    * drift on the boundary rules.
    */
  private def taggedSides(
      left: Dataset[Event], right: Dataset[Event]): Dataset[AsofSideRow] = {
    import left.sparkSession.implicits._
    dropNullTs(left)
      .map(e => AsofSideRow(1, e.user_id, e.ts, e.event_id, e.value))
      .union(dropNullTs(right).map(e => AsofSideRow(0, e.user_id, e.ts, e.event_id, e.value)))
  }

  /** Microsecond event time — matches the batch window's `unix_micros`
    * ordering; `getTime` alone (ms) could tie-break sub-ms rows
    * differently from the batch operator.
    */
  private def tsMicros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
  final case class AsofHit(
      event_id: Long, user_id: Long, ts: Timestamp, value: Double,
      asof_ts: Option[Timestamp], asof_event_id: Option[Long], asof_value: Option[Double])

  /** Streaming BACKWARD as-of join — the streaming face of
    * [[graft.operators.AsofJoin.asofBackward]]: every left event is
    * matched with the latest right event at-or-before it per user
    * ("state of the profile when the purchase happened", live).
    *
    * State per key is ONE row — the latest right seen — which is the
    * asymptotically minimal state for the backward direction (future
    * lefts can never need an older right), so total state is
    * O(active keys) regardless of stream length; idle keys expire
    * when the WATERMARK passes lastSeen + `horizonSeconds`
    * (replay-safe, like [[sessionizeStreamEventTime]]).
    *
    * Semantics ≡ the batch operator when rows arrive in event-time
    * order per key across micro-batches; WITHIN a batch, rows sort by
    * (ts, side, event_id) — right before left at equal ts (inclusive
    * visibility) and the largest simultaneous right winning — exactly
    * the batch window's tie discipline (StreamingSpec locks
    * stream ≡ batch on the events fixture). Out-of-order rights older
    * than the current state are ignored: they could only retro-match
    * already-emitted lefts. Out-of-order LEFTS (a left arriving in a
    * later micro-batch than a newer right) never see a right from
    * their future: the emission is guarded by `state.ts <= left.ts`,
    * so a late left degrades to no-match rather than an invalid
    * forward-in-time "backward" match.
    */
  def asofBackwardStream(
      left: Dataset[Event],
      right: Dataset[Event],
      watermarkDelay: String = "1 hour",
      horizonSeconds: Long = 86400L,
  ): Dataset[AsofHit] = {
    import left.sparkSession.implicits._
    val tagged = taggedSides(left, right).withWatermark("ts", watermarkDelay)
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[AsofSideRow], state: GroupState[AsofRightState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.orNull
            val out = rows.toSeq
              .sortBy(r => (tsMicros(r.ts), r.side, r.event_id))
              .flatMap { r =>
                if (r.side == 0) {
                  if (s == null || tsMicros(r.ts) >= s.tsUs)
                    s = AsofRightState(tsMicros(r.ts), r.ts, r.event_id, r.value)
                  None
                } else {
                  // A late left must not match a right from its future.
                  val m = Option(s).filter(_.tsUs <= tsMicros(r.ts))
                  Some(AsofHit(r.event_id, userId, r.ts, r.value,
                    m.map(_.ts), m.map(_.eventId), m.map(_.value)))
                }
              }
            if (s != null) {
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(s.tsUs / 1000 + horizonSeconds * 1000, state.getCurrentWatermarkMs + 1))
            }
            out.iterator
          }
        },
      )
  }

  /** [[AsofHit]] plus `emit_ts` — the event-time column the TWS as-of
    * faces re-declare. A hit is KNOWABLE only at resolution, and its
    * left `ts` may already be behind the watermark by then (that is
    * what resolution means), so re-declaring `ts` would violate the
    * engine's emitted-rows-at-or-after-watermark contract;
    * `emit_ts = max(ts, watermark + 1 ms)` is the honest event time
    * for downstream stateful operators (you can only window a hit at
    * the moment it could first exist). `ts` stays on the row as data.
    * On bounded frames `emit_ts = ts` (no watermark, nothing late).
    *
    * CONSEQUENCE for chained windowed aggregates: a watermark-clamped
    * hit's `emit_ts` is stamped with the RESOLVING batch's watermark,
    * so its downstream window membership depends on microbatch
    * boundaries — the same input split across different triggers can
    * land late-left hits in different windows. This is inherent to
    * the emitted-rows-at-or-after-watermark contract, not a bug; for
    * replay-deterministic offline re-aggregation, group on the
    * carried `ts` — [[reaggregateByEventTime]] is that face — and
    * treat `emit_ts`-windowed streaming rollups as at-resolution-time
    * views.
    */
  final case class AsofHitEmit(
      event_id: Long, user_id: Long, ts: Timestamp, value: Double,
      asof_ts: Option[Timestamp], asof_event_id: Option[Long], asof_value: Option[Double],
      emit_ts: Timestamp)

  private def stampHit(h: AsofHit, wmMs: Long): AsofHitEmit =
    AsofHitEmit(h.event_id, h.user_id, h.ts, h.value,
      h.asof_ts, h.asof_event_id, h.asof_value,
      new Timestamp(math.max(h.ts.getTime, wmMs + 1)))

  /** Replay-deterministic OFFLINE re-aggregation of landed emit rows
    * over their CARRIED event time — the operational face of the
    * [[AsofHitEmit]] / [[SessionAssignmentEmit]] trigger-cadence
    * caveat. `emit_ts`-windowed streaming rollups are
    * at-resolution-time views: a watermark-clamped row's `emit_ts`
    * depends on which microbatch resolved it, so the same input under
    * two trigger cadences can land in different windows. This helper
    * re-aggregates the LANDED rows on the carried `tsCol` instead —
    * tumbling `windowDuration` windows × `groupCols` — so ANY two
    * cadences of the same input produce identical output (StreamingSpec
    * runs two cadences of a TWS session stream through it and pins
    * frame equality; q159 gates the arithmetic against the oracle).
    *
    * `dedupIdCol`: at-least-once sinks can land a row twice across
    * restarts, with retries differing only in `emit_ts`; pass the
    * unique row id (event_id) to fold retries before aggregating.
    * The fold keeps one row per id — deterministic here precisely
    * because this helper never reads `emit_ts`.
    *
    * Batch-only by design (it exists to REPLAY a landed sink table);
    * scale shape is one hash aggregation with map-side partials over
    * (window, groupCols) — the same exchange any windowed rollup pays.
    */
  def reaggregateByEventTime(
      emitted: DataFrame,
      tsCol: String,
      windowDuration: String,
      groupCols: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column],
      dedupIdCol: Option[String] = None,
  ): DataFrame = {
    require(aggs.nonEmpty, "reaggregateByEventTime: provide at least one aggregate")
    require(!emitted.isStreaming,
      "reaggregateByEventTime replays a LANDED sink table — batch frames only")
    val base = dedupIdCol.map(id => emitted.dropDuplicates(Seq(id))).getOrElse(emitted)
    val agged = base
      .groupBy(window(col(tsCol), windowDuration) +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val rest = agged.columns.filter(_ != "window").map(col)
    agged.select(
      Seq(col("window.start").as("window_start"), col("window.end").as("window_end"))
        ++ rest: _*)
  }

  /** Replay-deterministic OFFLINE re-aggregation of a LANDED
    * sessionize sink ([[SessionAssignmentEmit]] rows from
    * [[sessionizeStream]] / [[sessionizeStreamTws]] /
    * [[sessionizeStreamEventTime]], or the batch [[sessionize]]
    * output) into per-session rollups — the session-family companion
    * of [[reaggregateByEventTime]]. A sessionize emit's `emit_ts` is
    * at-resolution-time metadata: the same input under two trigger
    * cadences lands identical (user, event, session_seq) assignments
    * with DIFFERENT emit stamps, so any rollup keyed on `emit_ts`
    * is cadence-dependent. This helper groups on the CARRIED
    * (user, session ordinal) key and event time only —
    * (session_start = min ts, session_end = max ts, n_events) plus
    * `extraAggs` — so any two cadences of the same input produce
    * identical frames (StreamingSpec pins two real TWS cadences;
    * q163 gates the arithmetic against the closed-form oracle).
    *
    * `dedupIdCol` folds at-least-once sink retries (rows differing
    * only in `emit_ts`) exactly as [[reaggregateByEventTime]] does —
    * deterministic precisely because this helper never reads
    * `emit_ts`.
    *
    * Batch-only by design; scale shape is one hash aggregation with
    * map-side partials over (user, session) — the exchange any
    * per-session rollup pays.
    */
  def reaggregateSessions(
      emitted: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      sessionCol: String = "session_seq",
      dedupIdCol: Option[String] = Some("event_id"),
      extraAggs: Seq[org.apache.spark.sql.Column] = Nil,
  ): DataFrame = {
    require(!emitted.isStreaming,
      "reaggregateSessions replays a LANDED sink table — batch frames only")
    val base = dedupIdCol.map(id => emitted.dropDuplicates(Seq(id))).getOrElse(emitted)
    val aggs = Seq(
      max(col(tsCol)).as("session_end"),
      count(lit(1)).as("n_events"),
    ) ++ extraAggs
    base
      .groupBy(col(userCol), col(sessionCol))
      .agg(min(col(tsCol)).as("session_start"), aggs: _*)
  }

  /** [[asofBackwardStream]]'s per-key step under `transformWithState`:
    * identical latest-right state, tie discipline, and late-left
    * guard; the event-time timer replaces
    * `GroupStateTimeout.EventTimeTimeout` for idle-key expiry.
    */
  private final class AsofBackwardProcessor(horizonMs: Long)
      extends StatefulProcessor[Long, AsofSideRow, AsofHitEmit] {
    @transient private var st: ValueState[AsofRightState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AsofRightState](
        "latest_right", Encoders.product[AsofRightState], TTLConfig.NONE)
    override def handleInputRows(
        userId: Long, rows: Iterator[AsofSideRow], tv: TimerValues): Iterator[AsofHitEmit] = {
      var s = if (st.exists()) st.get() else null
      val out = rows.toSeq
        .sortBy(r => (tsMicros(r.ts), r.side, r.event_id))
        .flatMap { r =>
          if (r.side == 0) {
            if (s == null || tsMicros(r.ts) >= s.tsUs)
              s = AsofRightState(tsMicros(r.ts), r.ts, r.event_id, r.value)
            None
          } else {
            // A late left must not match a right from its future.
            val m = Option(s).filter(_.tsUs <= tsMicros(r.ts))
            Some(AsofHit(r.event_id, userId, r.ts, r.value,
              m.map(_.ts), m.map(_.eventId), m.map(_.value)))
          }
        }
      if (s != null) {
        st.update(s)
        StreamingDedup.resetTimer(getHandle, s.tsUs / 1000, horizonMs, tv)
      }
      out.map(stampHit(_, tv.getCurrentWatermarkInMs)).iterator
    }
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AsofHitEmit] = {
      st.clear()
      Iterator.empty
    }
  }

  /** [[asofBackwardStream]] under `transformWithState` — the same
    * one-row-per-key backward as-of join, but CHAINABLE: the operator
    * re-declares `emit_ts` (see [[AsofHitEmit]] — max(left ts,
    * watermark+1), since a late left's hit emits after its own event
    * time has passed the watermark) as its output event-time column,
    * so the enriched stream can feed FURTHER stateful operators
    * (windowed aggregations, dedup, another as-of) in the same
    * query — the plan the fMGWS face cannot participate in. Keep
    * [[asofBackwardStream]] for state stores without
    * `transformWithState`; streaming here requires the RocksDB
    * provider.
    */
  def asofBackwardStreamTws(
      left: Dataset[Event],
      right: Dataset[Event],
      watermarkDelay: String = "1 hour",
      horizonSeconds: Long = 86400L,
  ): Dataset[AsofHitEmit] = {
    import left.sparkSession.implicits._
    // bounded frames evaluate through the fMGWS face (same per-key
    // step; the event-time column re-declaration below is a
    // streaming-plan concept, and with no watermark emit_ts = ts)
    if (!left.isStreaming)
      return asofBackwardStream(left, right, watermarkDelay, horizonSeconds)
        .map(h => AsofHitEmit(h.event_id, h.user_id, h.ts, h.value,
          h.asof_ts, h.asof_event_id, h.asof_value, h.ts))
    val tagged = StreamingDedup.ensureWatermark(
      taggedSides(left, right).toDF(),
      "ts", watermarkDelay)
      .as[AsofSideRow]
    tagged
      .groupByKey(_.user_id)
      .transformWithState(
        new AsofBackwardProcessor(horizonSeconds * 1000L),
        "emit_ts", OutputMode.Append())
  }

  /** Native stream-stream interval join — the streaming face of
    * [[graft.operators.RangeJoin]]: every left event pairs with the
    * same-key right events whose ts lies in
    * `[left.ts − lookbackSeconds, left.ts + lookaheadSeconds]`.
    *
    * This is Spark's built-in watermarked stream-stream inner join:
    * both sides buffer in join state, and the engine DERIVES the
    * state-retention bound from the time-range predicate plus the
    * watermarks (a right row can be dropped once the watermark says
    * no future left can reach back to it, and vice versa) — so state
    * is O(rate × (delay + window)), no custom state code needed.
    * Exactly the case where composing built-ins beats
    * `flatMapGroupsWithState`.
    */
  def intervalJoinStream(
      left: Dataset[Event],
      right: Dataset[Event],
      lookbackSeconds: Long,
      lookaheadSeconds: Long = 0L,
      watermarkDelay: String = "1 hour",
  ): DataFrame = {
    val l = left.toDF()
      .select(col("event_id").as("l_event_id"), col("user_id"),
        col("ts").as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.toDF()
      .select(col("event_id").as("r_event_id"), col("user_id").as("r_user_id"),
        col("ts").as("r_ts"), col("value").as("r_value"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(
      r,
      expr(
        s"""user_id = r_user_id AND
           |r_ts >= l_ts - INTERVAL $lookbackSeconds SECONDS AND
           |r_ts <= l_ts + INTERVAL $lookaheadSeconds SECONDS""".stripMargin),
    ).select(
      col("l_event_id"), col("user_id"), col("l_ts"), col("l_value"),
      col("r_event_id"), col("r_ts"), col("r_value"))
  }

  final case class AsofPendingLeft(tsUs: Long, ts: Timestamp, eventId: Long, value: Double,
      candUs: Long, candTs: Timestamp, candEventId: Long, candValue: Double, hasCand: Boolean)
  final case class AsofRightEv(tsUs: Long, ts: Timestamp, eventId: Long, value: Double)
  final case class AsofForwardState(pending: Seq[AsofPendingLeft], rights: Seq[AsofRightEv])

  /** Streaming FORWARD as-of join — the streaming face of
    * [[graft.operators.AsofJoin.asofForward]]: every left event is
    * matched with the EARLIEST right event at-or-after it per user,
    * within `toleranceSeconds` ("next reading after the event",
    * live). Unlike the backward direction (whose minimal state is one
    * row per key), forward matches depend on the FUTURE, so lefts
    * buffer in state until the event-time watermark proves their
    * match final:
    *
    *   - a left with candidate right `c` (smallest right ts ≥ left
    *     ts seen so far; ties keep the largest (event_id, value) —
    *     the batch struct rule) resolves once watermark ≥ c.ts: no
    *     admissible arrival can beat `c` afterwards;
    *   - a left with no candidate inside the tolerance resolves to
    *     NO-MATCH once watermark ≥ left.ts + tolerance.
    *
    * State per key is O(lefts inside the watermark+tolerance
    * horizon) + O(rights newer than the watermark) — both bounded by
    * arrival rate × (delay + tolerance), the information-theoretic
    * floor for this direction (each buffered left's answer is
    * genuinely undetermined). Rights at-or-before the watermark are
    * pruned every invocation (pending lefts pin their own candidate
    * copies). An event-time timeout flushes resolutions when no new
    * data arrives for a key. Rows behind the watermark are dropped
    * by the engine before reaching the state function (standard
    * watermark semantics under event-time timeouts); should a
    * runtime deliver one anyway, it resolves immediately best-effort
    * against the retained rights.
    *
    * The tolerance is MANDATORY in the streaming direction: without
    * it a no-match left could never be resolved (a qualifying right
    * may arrive arbitrarily far in the future).
    */
  /** One per-key step of the FORWARD as-of join — shared verbatim by
    * the fMGWS face ([[asofForwardStream]]) and the chainable TWS
    * face ([[asofForwardStreamTws]]) so buffering, tie, late-left,
    * resolution, and prune rules can never drift between them.
    * Returns (emitted hits, None to clear the key's state, or
    * Some((new state, next wake-up µs))).
    */
  private[streaming] def asofForwardStep(
      userId: Long,
      prev: AsofForwardState,
      newRows: Seq[AsofSideRow],
      wmUs: Long,
      tolUs: Long,
  ): (Seq[AsofHit], Option[(AsofForwardState, Long)]) = {
    val newRights = newRows.filter(_.side == 0)
      .map(r => AsofRightEv(tsMicros(r.ts), r.ts, r.event_id, r.value))
    val rights = (prev.rights ++ newRights).sortBy(r => (r.tsUs, r.eventId))

    // candidate = smallest qualifying right ts; at equal ts the
    // largest (event_id, value) — matches the batch window's
    // struct ordering
    def better(l: AsofPendingLeft, r: AsofRightEv): Boolean =
      r.tsUs >= l.tsUs && r.tsUs <= l.tsUs + tolUs &&
        (!l.hasCand || r.tsUs < l.candUs ||
          (r.tsUs == l.candUs &&
            (r.eventId > l.candEventId ||
              (r.eventId == l.candEventId && r.value > l.candValue))))
    def absorb(l0: AsofPendingLeft, rs: Seq[AsofRightEv]): AsofPendingLeft =
      rs.foldLeft(l0)((l, r) =>
        if (better(l, r))
          l.copy(candUs = r.tsUs, candTs = r.ts, candEventId = r.eventId,
            candValue = r.value, hasCand = true)
        else l)

    // existing pending lefts see only the NEW rights (old rights
    // were absorbed when they arrived); new lefts scan the full
    // retained right buffer
    val updatedPending = prev.pending.map(absorb(_, newRights))
    val newPending = newRows.filter(_.side == 1).map { l =>
      absorb(
        AsofPendingLeft(tsMicros(l.ts), l.ts, l.event_id, l.value,
          0L, null, 0L, 0.0, hasCand = false),
        rights)
    }
    // a left ARRIVING at-or-behind the watermark (late data)
    // resolves immediately against the retained rights —
    // best-effort by construction; buffering it would be wrong
    // too (pre-watermark rights are already pruned). Pending
    // lefts whose ts the watermark merely passed are NOT late:
    // their candidate can still improve until wm ≥ candidate ts.
    val (lateNew, freshNew) = newPending.partition(_.tsUs <= wmUs)
    val all = (updatedPending ++ freshNew).sortBy(l => (l.tsUs, l.eventId))

    // resolve: candidate final once wm ≥ cand ts (later arrivals
    // must have ts > wm, so they can neither beat nor tie it);
    // no-match final once wm ≥ left ts + tolerance
    val (done, still) = all.partition(l =>
      (l.hasCand && l.candUs <= wmUs) || l.tsUs + tolUs <= wmUs)
    val out = (lateNew ++ done).map(l =>
      if (l.hasCand)
        AsofHit(l.eventId, userId, l.ts, l.value,
          Some(l.candTs), Some(l.candEventId), Some(l.candValue))
      else AsofHit(l.eventId, userId, l.ts, l.value, None, None, None))

    // rights at-or-before the watermark can never serve a future
    // left (new lefts arrive with ts > watermark)
    val keptRights = rights.filter(_.tsUs > wmUs)
    if (still.isEmpty && keptRights.isEmpty) (out, None)
    else {
      // wake at the next resolution boundary even if no data comes
      val nextUs = (still.map(l => if (l.hasCand) l.candUs else l.tsUs + tolUs) ++
        keptRights.map(_.tsUs)).min
      (out, Some((AsofForwardState(still, keptRights), nextUs)))
    }
  }

  def asofForwardStream(
      left: Dataset[Event],
      right: Dataset[Event],
      toleranceSeconds: Long,
      watermarkDelay: String = "1 hour",
  ): Dataset[AsofHit] = {
    import left.sparkSession.implicits._
    require(toleranceSeconds > 0, "forward as-of streaming needs a positive tolerance")
    val tolUs = toleranceSeconds * 1000000L
    val tagged = taggedSides(left, right).withWatermark("ts", watermarkDelay)
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[AsofSideRow], state: GroupState[AsofForwardState]) => {
          val wmUs = state.getCurrentWatermarkMs * 1000L
          val prev = state.getOption.getOrElse(AsofForwardState(Nil, Nil))
          val (out, next) = asofForwardStep(userId, prev, rows.toSeq, wmUs, tolUs)
          next match {
            case Some((ns, nextUs)) =>
              state.update(ns)
              state.setTimeoutTimestamp(
                math.max(nextUs / 1000 + 1, state.getCurrentWatermarkMs + 1))
            case None => state.remove()
          }
          out.iterator
        },
      )
  }

  /** [[asofForwardStream]] under `transformWithState` — the same
    * per-key step ([[asofForwardStep]], shared function), with the
    * event-time timer standing in for the fMGWS event-time timeout
    * and the output event-time column re-declared so downstream
    * stateful operators chain in the same query. Bounded frames
    * route through the fMGWS face; streaming requires the RocksDB
    * provider.
    */
  def asofForwardStreamTws(
      left: Dataset[Event],
      right: Dataset[Event],
      toleranceSeconds: Long,
      watermarkDelay: String = "1 hour",
  ): Dataset[AsofHitEmit] = {
    import left.sparkSession.implicits._
    require(toleranceSeconds > 0, "forward as-of streaming needs a positive tolerance")
    if (!left.isStreaming)
      return asofForwardStream(left, right, toleranceSeconds, watermarkDelay)
        .map(h => AsofHitEmit(h.event_id, h.user_id, h.ts, h.value,
          h.asof_ts, h.asof_event_id, h.asof_value, h.ts))
    val tagged = StreamingDedup.ensureWatermark(
      taggedSides(left, right).toDF(),
      "ts", watermarkDelay)
      .as[AsofSideRow]
    tagged
      .groupByKey(_.user_id)
      .transformWithState(
        new AsofForwardProcessor(toleranceSeconds * 1000000L),
        "emit_ts", OutputMode.Append())
  }

  /** [[asofForwardStep]] hosted in a `StatefulProcessor`: input rows
    * and timer expiries run the SAME step (a timer is a step with no
    * new rows — the fMGWS wake-up contract), keeping exactly one live
    * timer per key at the step's returned boundary.
    */
  private final class AsofForwardProcessor(tolUs: Long)
      extends StatefulProcessor[Long, AsofSideRow, AsofHitEmit] {
    @transient private var st: ValueState[AsofForwardState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AsofForwardState](
        "forward", Encoders.product[AsofForwardState], TTLConfig.NONE)
    private def step(key: Long, rows: Seq[AsofSideRow], tv: TimerValues): Iterator[AsofHitEmit] = {
      val prev = if (st.exists()) st.get() else AsofForwardState(Nil, Nil)
      val (out, next) = asofForwardStep(key, prev, rows, tv.getCurrentWatermarkInMs * 1000L, tolUs)
      getHandle.listTimers().toList.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      next match {
        case Some((ns, nextUs)) =>
          st.update(ns)
          getHandle.registerTimer(
            math.max(nextUs / 1000 + 1, tv.getCurrentWatermarkInMs + 1))
        case None => st.clear()
      }
      out.map(stampHit(_, tv.getCurrentWatermarkInMs)).iterator
    }
    override def handleInputRows(
        key: Long, rows: Iterator[AsofSideRow], tv: TimerValues): Iterator[AsofHitEmit] =
      step(key, rows.toSeq, tv)
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AsofHitEmit] =
      step(key, Nil, tv)
  }

  final case class AsofPendingNear(
      tsUs: Long, ts: Timestamp, eventId: Long, value: Double,
      fUs: Long, fTs: Timestamp, fEventId: Long, fValue: Double, hasF: Boolean,
      bUs: Long, bTs: Timestamp, bEventId: Long, bValue: Double, hasB: Boolean)
  final case class AsofNearestState(
      pending: Seq[AsofPendingNear],
      rights: Seq[AsofRightEv],
      latestUs: Long, latestTs: Timestamp, latestEventId: Long, latestValue: Double,
      hasLatest: Boolean)

  /** Streaming NEAREST as-of join — the streaming face of
    * [[graft.operators.AsofJoin.asofNearest]]: the closer of the
    * backward and forward matches within `toleranceSeconds`,
    * equidistant → backward (the pandas rule, same as batch).
    *
    * Each pending left tracks BOTH direction candidates and resolves
    * once both are watermark-final: the backward side is final as
    * soon as wm ≥ left.ts (later arrivals have ts > wm so they can
    * only be forward candidates), the forward side by the
    * [[asofForwardStream]] rule (wm ≥ candidate ts, or no candidate
    * and wm ≥ left.ts + tolerance). Backward candidates for lefts
    * that arrive AFTER their rights were pruned come from a one-row
    * "latest pruned right" register per key — pruning folds the max
    * pruned right into it instead of discarding information, so the
    * state stays O(rate × (delay + tolerance)) + one row.
    */
  def asofNearestStream(
      left: Dataset[Event],
      right: Dataset[Event],
      toleranceSeconds: Long,
      watermarkDelay: String = "1 hour",
  ): Dataset[AsofHit] = {
    import left.sparkSession.implicits._
    require(toleranceSeconds > 0, "nearest as-of streaming needs a positive tolerance")
    val tolUs = toleranceSeconds * 1000000L
    val tagged = taggedSides(left, right).withWatermark("ts", watermarkDelay)
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[AsofSideRow], state: GroupState[AsofNearestState]) => {
          val wmUs = state.getCurrentWatermarkMs * 1000L
          val prev = state.getOption.getOrElse(
            AsofNearestState(Nil, Nil, 0L, null, 0L, 0.0, hasLatest = false))
          val (out, next) = asofNearestStep(userId, prev, rows.toSeq, wmUs, tolUs)
          next match {
            case Some((ns, nextUs)) =>
              state.update(ns)
              state.setTimeoutTimestamp(
                math.max(nextUs / 1000 + 1, state.getCurrentWatermarkMs + 1))
            case None => state.remove()
          }
          out.iterator
        },
      )
  }

  /** One per-key step of the NEAREST as-of join — shared by the fMGWS
    * face ([[asofNearestStream]]) and the TWS face
    * ([[asofNearestStreamTws]]), like [[asofForwardStep]].
    */
  private[streaming] def asofNearestStep(
      userId: Long,
      prev: AsofNearestState,
      newRows: Seq[AsofSideRow],
      wmUs: Long,
      tolUs: Long,
  ): (Seq[AsofHit], Option[(AsofNearestState, Long)]) = {
    val newRights = newRows.filter(_.side == 0)
      .map(r => AsofRightEv(tsMicros(r.ts), r.ts, r.event_id, r.value))
    val rights = (prev.rights ++ newRights).sortBy(r => (r.tsUs, r.eventId))

          def fwBetter(l: AsofPendingNear, r: AsofRightEv): Boolean =
            r.tsUs >= l.tsUs && r.tsUs <= l.tsUs + tolUs &&
              (!l.hasF || r.tsUs < l.fUs ||
                (r.tsUs == l.fUs && (r.eventId > l.fEventId ||
                  (r.eventId == l.fEventId && r.value > l.fValue))))
          def bwBetter(l: AsofPendingNear, r: AsofRightEv): Boolean =
            r.tsUs <= l.tsUs && r.tsUs + tolUs >= l.tsUs &&
              (!l.hasB || r.tsUs > l.bUs ||
                (r.tsUs == l.bUs && (r.eventId > l.bEventId ||
                  (r.eventId == l.bEventId && r.value > l.bValue))))
          def absorb(l0: AsofPendingNear, rs: Seq[AsofRightEv]): AsofPendingNear =
            rs.foldLeft(l0) { (l, r) =>
              val f =
                if (fwBetter(l, r))
                  l.copy(fUs = r.tsUs, fTs = r.ts, fEventId = r.eventId,
                    fValue = r.value, hasF = true)
                else l
              if (bwBetter(f, r))
                f.copy(bUs = r.tsUs, bTs = r.ts, bEventId = r.eventId,
                  bValue = r.value, hasB = true)
              else f
            }

          val latestSeq =
            if (prev.hasLatest)
              Seq(AsofRightEv(prev.latestUs, prev.latestTs, prev.latestEventId, prev.latestValue))
            else Nil
          val updatedPending = prev.pending.map(absorb(_, newRights))
          val newPending = newRows.filter(_.side == 1).map { l =>
            absorb(
              AsofPendingNear(tsMicros(l.ts), l.ts, l.event_id, l.value,
                0L, null, 0L, 0.0, hasF = false, 0L, null, 0L, 0.0, hasB = false),
              latestSeq ++ rights)
          }
          val (lateNew, freshNew) = newPending.partition(_.tsUs <= wmUs)
          val all = (updatedPending ++ freshNew).sortBy(l => (l.tsUs, l.eventId))

          def fwFinal(l: AsofPendingNear) =
            (l.hasF && l.fUs <= wmUs) || l.tsUs + tolUs <= wmUs
          def bwFinal(l: AsofPendingNear) = l.tsUs <= wmUs
          val (done, still) = all.partition(l => fwFinal(l) && bwFinal(l))
          def emit(l: AsofPendingNear): AsofHit = {
            val useB = l.hasB && (!l.hasF || (l.tsUs - l.bUs) <= (l.fUs - l.tsUs))
            if (useB)
              AsofHit(l.eventId, userId, l.ts, l.value,
                Some(l.bTs), Some(l.bEventId), Some(l.bValue))
            else if (l.hasF)
              AsofHit(l.eventId, userId, l.ts, l.value,
                Some(l.fTs), Some(l.fEventId), Some(l.fValue))
            else AsofHit(l.eventId, userId, l.ts, l.value, None, None, None)
          }
          val out = (lateNew ++ done).map(emit)

          // prune: fold the max pruned right into the one-row latest
          // register (backward source for future lefts), keep the
          // rest. The register itself EXPIRES once wm ≥ its ts +
          // tolerance: any future left has ts > wm, so the register
          // could only match beyond the tolerance — keeping it longer
          // would grow state by one dead row per idle key forever.
          val (pruned, keptRights) = rights.partition(_.tsUs <= wmUs)
    val latestAll = (latestSeq ++ pruned)
      .sortBy(r => (r.tsUs, r.eventId, r.value))
      .lastOption
      .filter(_.tsUs + tolUs > wmUs)
    if (still.isEmpty && keptRights.isEmpty && latestAll.isEmpty) (out, None)
    else {
      val ns = AsofNearestState(
        still, keptRights,
        latestAll.map(_.tsUs).getOrElse(0L), latestAll.map(_.ts).orNull,
        latestAll.map(_.eventId).getOrElse(0L), latestAll.map(_.value).getOrElse(0.0),
        latestAll.nonEmpty)
      // wake at the earliest boundary that changes anything: a
      // pending resolution, a buffered right's prune point, or
      // the register's expiry
      val nextUs = (
        still.map(l =>
          math.max(l.tsUs, if (l.hasF) math.min(l.fUs, l.tsUs + tolUs)
          else l.tsUs + tolUs)) ++
          keptRights.map(_.tsUs) ++
          latestAll.map(_.tsUs + tolUs)
      ).min
      (out, Some((ns, nextUs)))
    }
  }

  /** [[asofNearestStream]] under `transformWithState` — the same
    * per-key step ([[asofNearestStep]]), event-time re-declared so
    * downstream stateful operators chain; bounded frames route
    * through the fMGWS face. Streaming requires the RocksDB provider.
    */
  def asofNearestStreamTws(
      left: Dataset[Event],
      right: Dataset[Event],
      toleranceSeconds: Long,
      watermarkDelay: String = "1 hour",
  ): Dataset[AsofHitEmit] = {
    import left.sparkSession.implicits._
    require(toleranceSeconds > 0, "nearest as-of streaming needs a positive tolerance")
    if (!left.isStreaming)
      return asofNearestStream(left, right, toleranceSeconds, watermarkDelay)
        .map(h => AsofHitEmit(h.event_id, h.user_id, h.ts, h.value,
          h.asof_ts, h.asof_event_id, h.asof_value, h.ts))
    val tagged = StreamingDedup.ensureWatermark(
      taggedSides(left, right).toDF(),
      "ts", watermarkDelay)
      .as[AsofSideRow]
    tagged
      .groupByKey(_.user_id)
      .transformWithState(
        new AsofNearestProcessor(toleranceSeconds * 1000000L),
        "emit_ts", OutputMode.Append())
  }

  /** [[asofNearestStep]] hosted in a `StatefulProcessor` — identical
    * hosting contract to [[AsofForwardProcessor]].
    */
  private final class AsofNearestProcessor(tolUs: Long)
      extends StatefulProcessor[Long, AsofSideRow, AsofHitEmit] {
    @transient private var st: ValueState[AsofNearestState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AsofNearestState](
        "nearest", Encoders.product[AsofNearestState], TTLConfig.NONE)
    private def step(key: Long, rows: Seq[AsofSideRow], tv: TimerValues): Iterator[AsofHitEmit] = {
      val prev =
        if (st.exists()) st.get()
        else AsofNearestState(Nil, Nil, 0L, null, 0L, 0.0, hasLatest = false)
      val (out, next) = asofNearestStep(key, prev, rows, tv.getCurrentWatermarkInMs * 1000L, tolUs)
      getHandle.listTimers().toList.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      next match {
        case Some((ns, nextUs)) =>
          st.update(ns)
          getHandle.registerTimer(
            math.max(nextUs / 1000 + 1, tv.getCurrentWatermarkInMs + 1))
        case None => st.clear()
      }
      out.map(stampHit(_, tv.getCurrentWatermarkInMs)).iterator
    }
    override def handleInputRows(
        key: Long, rows: Iterator[AsofSideRow], tv: TimerValues): Iterator[AsofHitEmit] =
      step(key, rows.toSeq, tv)
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AsofHitEmit] =
      step(key, Nil, tv)
  }
}
