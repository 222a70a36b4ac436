package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types.{DecimalType, LongType, StringType,
  StructField, StructType}

/** Per-key state for [[StreamOps.runningMaxPerUserTWS]]: one `ValueState`
  * double (the running max), no TTL, no timers — the minimal
  * `StatefulProcessor` showing the Spark 4 arbitrary-state surface.
  */
class RunningMaxProcessor
    extends StatefulProcessor[Long, (Long, Long, Double), (Long, Double, Long)] {
  @transient private var maxState: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxState = getHandle.getValueState[Double]("max",
      Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
                               timerValues: TimerValues): Iterator[(Long, Double, Long)] = {
    var best = if (maxState.exists()) maxState.get() else Double.NegativeInfinity
    val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap { case (_, ms, v) =>
      if (v > best) { best = v; Some((key, v, ms)) } else None
    }
    maxState.update(best)
    out.iterator
  }
}

/** Per-key state for [[StreamOps.stateRunsTWS]] — the streaming CDC
  * state-run (SCD2) maintainer: one `ValueState` tuple
  * (run_id, state, valid_from_ms, n_events) for the currently-OPEN run.
  * A row whose event_type differs from the open run's state (null-safe,
  * matching the batch twin's `<=>` change detection) closes the run —
  * emitted as (user_id, run_id, state, valid_from_ms, valid_to_ms,
  * n_events) — and opens the next. Closed runs are immutable history
  * (append mode); exactly one open run per key lives in the store, so
  * state is O(keys) regardless of stream length.
  */
class StateRunsProcessor
    extends StatefulProcessor[Long, (Long, Long, Long, String),
      (Long, Long, String, Long, Long, Long)] {
  @transient private var run: ValueState[(Long, String, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    run = getHandle.getValueState[(Long, String, Long, Long)]("run",
      Encoders.product[(Long, String, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, String, Long, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Long, Long, Long)]
    var cur = if (run.exists()) Option(run.get()) else None
    // same per-key order as the batch twin: (ts_ms, event_id)
    rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ms, _, et) =>
      cur match {
        // a NULL first state opens run 0, not 1 — mirroring the batch
        // twin exactly, where the first row's change flag is
        // !(NULL <=> NULL) = 0 so the running sum starts at 0 (and the
        // DuckDB oracle's IS DISTINCT FROM does the same)
        case None => cur = Some((if (et == null) 0L else 1L, et, ms, 1L))
        case Some((rid, st, from, n)) =>
          if (st == et) cur = Some((rid, st, from, n + 1L))
          else {
            out += ((key, rid, st, from, ms, n))
            cur = Some((rid + 1L, et, ms, 1L))
          }
      }
    }
    cur.foreach(run.update)
    out.iterator
  }
}

/** Per-key state for [[StreamOps.stateRunsLateTWS]] — the SCD2 maintainer
  * that HONORS THE WATERMARK: where [[StateRunsProcessor]] assumes
  * in-order per-key arrival (an emitted run cannot be retracted, so a
  * late event that lands inside already-compacted history silently
  * diverges from batch), this twin buffers events in a `ListState` until
  * the watermark proves no earlier event can still arrive, then folds
  * them in (ts_ms, event_id) order through the open-run `ValueState` —
  * the exact batch fold, delayed just long enough to be safe.
  *
  * Drain rule: an event folds only once `ts_ms < watermark`; Spark drops
  * rows later than the watermark before the operator, so every future
  * arrival has ts ≥ watermark > every folded ts — the fold order is
  * final and closed-run output ≡ the batch twin's closed rows for ANY
  * arrival order within the allowed lateness (StreamingSpec pins it on
  * out-of-order multi-batch feeds; beyond-watermark stragglers are the
  * batch path's job — [[graft.ops.TimeOps.stateRunsMerge]]).
  *
  * One event-time timer per key, armed at (min buffered ts + 1), drains
  * the buffer as the watermark advances even when the key sees no
  * further input. State per key: the open run + only the not-yet-final
  * suffix of events — watermark-bounded, so O(keys × lateness window).
  */
class StateRunsLateProcessor
    extends StatefulProcessor[Long, (Long, Long, Long, String, java.sql.Timestamp),
      (Long, Long, String, Long, Long, Long)] {
  @transient private var buf: ListState[(Long, Long, String)] = _
  @transient private var run: ValueState[(Long, String, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[(Long, Long, String)]("buf",
      Encoders.product[(Long, Long, String)], TTLConfig.NONE)
    run = getHandle.getValueState[(Long, String, Long, Long)]("run",
      Encoders.product[(Long, String, Long, Long)], TTLConfig.NONE)
  }

  /** Fold every buffered event with ts_ms < wm through the open run, emit
    * runs closed by the fold, keep the rest buffered, re-arm the timer.
    */
  private def drain(key: Long, wmMs: Long)
      : Iterator[(Long, Long, String, Long, Long, Long)] = {
    val all = buf.get().toArray
    val (ready, pending) = all.partition(_._1 < wmMs)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Long, Long, Long)]
    if (ready.nonEmpty) {
      var cur = if (run.exists()) Option(run.get()) else None
      ready.sortBy(e => (e._1, e._2)).foreach { case (ms, _, et) =>
        cur match {
          // NULL first state opens run 0 — the batch twin's !(NULL <=> NULL)
          case None => cur = Some((if (et == null) 0L else 1L, et, ms, 1L))
          case Some((rid, st, from, n)) =>
            if (st == et) cur = Some((rid, st, from, n + 1L))
            else {
              out += ((key, rid, st, from, ms, n))
              cur = Some((rid + 1L, et, ms, 1L))
            }
        }
      }
      cur.foreach(run.update)
      if (pending.isEmpty) buf.clear() else buf.put(pending)
    }
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    if (pending.nonEmpty)
      getHandle.registerTimer(pending.map(_._1).min + 1L)
    out.iterator
  }

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, String, Long, Long, Long)] = {
    buf.appendList(rows.map(r => (r._2, r._3, r._4)).toArray)
    drain(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo)
      : Iterator[(Long, Long, String, Long, Long, Long)] =
    drain(key, timerValues.getCurrentWatermarkInMs())
}

/** Watermark-honoring sessionization — [[SessionExpiryProcessor]]'s late
  * twin, built on the [[StateRunsLateProcessor]] buffer-until-final
  * pattern (VERDICT r13 #3): events buffer in `ListState` and fold into
  * the open session only once the watermark makes their position FINAL
  * (no admissible event can still land before them), so out-of-order
  * arrival within the allowed lateness produces exactly the batch
  * sessionization — the contract gap the in-order processor documents
  * (an emitted close cannot be retracted) closes by never emitting until
  * the close is provably final. Two close conditions, both on finalized
  * data: a finalized later event reveals a gap, or the watermark passes
  * `last + gap` (any future admissible event must then start a NEW
  * session, so the open one is final). State per key: the not-yet-final
  * event suffix (≈ lateness window) + one open (n_events, last_ms) pair.
  * Emits (user_id, n_events, session_end_ms) per closed session.
  */
class SessionLateProcessor(gapMs: Long)
    extends StatefulProcessor[Long, (Long, Long, java.sql.Timestamp),
      (Long, Long, Long)] {
  @transient private var buf: ListState[Long] = _
  @transient private var sess: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
    sess = getHandle.getValueState[(Long, Long)]("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
  }

  private def drain(key: Long, wmMs: Long): Iterator[(Long, Long, Long)] = {
    val all = buf.get().toArray
    val (ready, pending) = all.partition(_ < wmMs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var (c, last) =
      if (sess.exists()) sess.get() else (0L, Long.MinValue)
    ready.sorted.foreach { ms =>
      if (last != Long.MinValue && ms - last > gapMs) {
        out += ((key, c, last)) // a finalized later event revealed the gap
        c = 0L
      }
      c += 1
      if (ms > last) last = ms
    }
    if (ready.nonEmpty) {
      if (pending.isEmpty) buf.clear() else buf.put(pending)
    }
    // watermark-driven close: final once no admissible event can extend it
    if (c > 0 && wmMs > last + gapMs) {
      out += ((key, c, last))
      c = 0L; last = Long.MinValue
      sess.clear()
    } else if (c > 0) sess.update((c, last))
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    val wakes = (if (pending.nonEmpty) Seq(pending.min + 1L) else Nil) ++
      (if (c > 0) Seq(last + gapMs + 1L) else Nil)
    if (wakes.nonEmpty) getHandle.registerTimer(wakes.min)
    out.iterator
  }

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, java.sql.Timestamp)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    buf.appendList(rows.map(_._2).toArray)
    drain(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[(Long, Long, Long)] =
    drain(key, timerValues.getCurrentWatermarkInMs())
}

/** Watermark-honoring interval union — [[graft.ops.TimeOps.intervalUnion]]'s
  * streaming twin on the same buffer-until-final pattern: each event
  * contributes [ts, ts+len); overlapping-or-touching finalized intervals
  * merge into the open run; the run closes once the watermark passes its
  * END (a future admissible event has ts >= wm > end, so it must open a
  * new run — exactly the batch sweep's `st > pmax` rule). Emits one row
  * per CLOSED merged interval: (user_id, s_ms, e_ms, n_events); the
  * batch twin's per-user (n_intervals, covered_ms) aggregate is a
  * downstream groupBy over these.
  */
class IntervalUnionLateProcessor(lenMs: Long)
    extends StatefulProcessor[Long, (Long, Long, java.sql.Timestamp),
      (Long, Long, Long, Long)] {
  @transient private var buf: ListState[Long] = _
  @transient private var run: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
    run = getHandle.getValueState[(Long, Long, Long)]("run",
      Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
  }

  private def drain(key: Long, wmMs: Long): Iterator[(Long, Long, Long, Long)] = {
    val all = buf.get().toArray
    val (ready, pending) = all.partition(_ < wmMs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cur: Option[(Long, Long, Long)] =
      if (run.exists()) Some(run.get()) else None
    ready.sorted.foreach { ms =>
      cur match {
        case None => cur = Some((ms, ms + lenMs, 1L))
        case Some((s, e, n)) =>
          if (ms > e) { // gap: the finalized event opens a new run
            out += ((key, s, e, n))
            cur = Some((ms, ms + lenMs, 1L))
          } else cur = Some((s, math.max(e, ms + lenMs), n + 1L))
      }
    }
    if (ready.nonEmpty) {
      if (pending.isEmpty) buf.clear() else buf.put(pending)
    }
    cur match {
      case Some((s, e, n)) if wmMs > e => // no admissible event can touch it
        out += ((key, s, e, n))
        cur = None
        run.clear()
      case Some(r) => run.update(r)
      case None => ()
    }
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    val wakes = (if (pending.nonEmpty) Seq(pending.min + 1L) else Nil) ++
      cur.map(_._2 + 1L).toSeq
    if (wakes.nonEmpty) getHandle.registerTimer(wakes.min)
    out.iterator
  }

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, java.sql.Timestamp)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    buf.appendList(rows.map(_._2).toArray)
    drain(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] =
    drain(key, timerValues.getCurrentWatermarkInMs())
}

/** Session expiry on Spark 4's timer surface, with the HYBRID close
  * contract real sessionization needs: sessions close EITHER when a later
  * event reveals a gap (input-driven — emitted right from
  * [[handleInputRows]]) or when the watermark passes `last + gap` with no
  * further events (timer-driven — [[handleExpiredTimer]]). Timer-only
  * closing is not enough: a user's next event can arrive in the SAME
  * micro-batch that would have fired the old session's timer, and input
  * rows are processed before expired timers, so the stale session would
  * absorb the new event and two sessions merge (found by the 10× soak —
  * `tools/StreamSoak` at 8a861d8 asserts stream ≡ batch sessionize, which only the
  * hybrid contract satisfies). State per key stays one (n_events, last_ms)
  * pair + ONE armed timer for the currently-open session; closed sessions
  * leave the store entirely.
  * Input rows: (user_id, ts_ms, ts_utc) — the timestamp column carries
  * the watermark; the processor keys on user_id. Emits
  * `(user, n_events, session_end_ms)` per closed session.
  */
class SessionExpiryProcessor(gapMs: Long)
    extends StatefulProcessor[Long, (Long, Long, java.sql.Timestamp), (Long, Long, Long)] {
  @transient private var sess: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[(Long, Long)]("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (c, last) = if (sess.exists()) sess.get() else (0L, Long.MinValue)
    val out = Seq.newBuilder[(Long, Long, Long)]
    // walk the batch's rows in event-time order. CONTRACT: stream ≡ batch
    // sessionize assumes per-key arrival is in order ACROSS batches —
    // i.e. watermark delay 0 / in-order sources, exactly how
    // sessionExpiryTWS defaults and StreamSoak at 8a861d8 runs. The watermark itself
    // does NOT guarantee this: with a nonzero delay an admitted late event
    // (ms <= last) merges into the open session below, which matches batch
    // only if no input-driven close for a later gap was already emitted —
    // an emitted close cannot be retracted (ADVICE r6).
    rows.map(_._2).toArray.sorted.foreach { ms =>
      if (last != Long.MinValue && ms - last > gapMs) {
        out += ((key, c, last)) // input-driven close: the gap is visible now
        c = 0L
      }
      c += 1
      if (ms > last) last = ms
    }
    // one live timer per key: drop the stale one, arm at last + gap for the
    // watermark-driven close (the final session has no later event to
    // reveal its gap)
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(last + gapMs)
    sess.update((c, last))
    out.result().iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val out =
      if (sess.exists()) { val (c, last) = sess.get(); Iterator.single((key, c, last)) }
      else Iterator.empty
    sess.clear() // session closed: state AND timer are gone
    out
  }
}

/** Streaming exact dedup with BOUNDED state via TTL eviction — the
  * streaming twin of batch DD1 (`graft.ops.Dedup.exactByKey`) for the
  * continuous-ingest shape a training-data pipeline runs: an unbounded
  * stream of document digests where an all-time seen-set would grow
  * without bound. The `ValueState` carries a processing-time TTL
  * ([[org.apache.spark.sql.streaming.TTLConfig]]): digests idle for
  * `ttl` are EVICTED from RocksDB by the store's TTL sweep, so state is
  * bounded by the distinct-digest arrival rate × ttl, independent of
  * stream length. Contract: the FIRST row per digest in each ttl window
  * is emitted (smallest doc id within its arrival batch, for
  * determinism); repeats inside the window are dropped WITHOUT
  * refreshing the TTL (fixed window from first sighting — a digest
  * re-admits exactly once per ttl, the standard rolling-window dedup
  * cadence; refreshing on every sighting would let a hot duplicate pin
  * its state forever). `StreamingTtlSpec` proves both directions: the
  * duplicate inside the window is dropped, the post-expiry repeat is
  * re-emitted, and the state-store row count FALLS after the sweep.
  */
class DedupTtlProcessor(ttl: java.time.Duration)
    extends StatefulProcessor[String, (String, Long), (String, Long)] {
  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean]("seen",
      Encoders.scalaBoolean, new TTLConfig(ttl))

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                               timerValues: TimerValues): Iterator[(String, Long)] = {
    if (seen.exists()) Iterator.empty
    else {
      var bestId = Long.MaxValue
      rows.foreach { r => if (r._2 < bestId) bestId = r._2 }
      seen.update(true)
      Iterator.single((key, bestId))
    }
  }
}

/** Structured Streaming twins of the batch time-series operators
  * (SURVEY §2.9 G5/G6). The reference's snapshot cadence — one `.bin` every
  * `nOutLoops`=250 steps (`MLS00con.dat:7`) — is exactly a micro-batch
  * trigger; watermarks bound state for late data.
  *
  * Each function takes a STREAMING DataFrame with an event-time column
  * `ts_utc` (TimestampType) and returns the transformed streaming frame;
  * callers pick the sink/trigger. The batch twins in [[graft.ops.TimeOps]]
  * share the aggregation logic so the oracle can check them.
  */
object StreamOps {

  /** G6 — tumbling-window aggregate with watermark; append-mode safe. */
  def tumblingAgg(events: DataFrame, width: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), width), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_val"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("cnt"), col("sum_val"))

  /** Custom-state streaming (the `flatMapGroupsWithState` tier): per-user
    * running maximum with change-only emission — every time a user's max
    * value increases, emit one (user, new_max, at_ms) row. The state per
    * key is ONE double (bounded regardless of stream length) — the shape
    * of engine-style monitors over the measured series (`MLSOut00E.dat`).
    * Input: a streaming Dataset of (user_id, ts_ms, value).
    */
  def runningMaxPerUser(events: Dataset[(Long, Long, Double)])
      : Dataset[(Long, Double, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[Double]) =>
          var best = state.getOption.getOrElse(Double.NegativeInfinity)
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap { case (_, ms, v) =>
            if (v > best) { best = v; Some((user, v, ms)) } else None
          }
          state.update(best)
          out.iterator
      }
  }

  /** [[runningMaxPerUser]] on Spark 4's arbitrary-state API
    * (`transformWithState` + `StatefulProcessor`/`ValueState`) — the
    * successor to `flatMapGroupsWithState` with typed per-key state
    * primitives, TTL, and timers. Same contract: one double of state per
    * key, emit only on a new maximum. Requires the RocksDB state store
    * provider (set in the caller's session conf; spec does).
    */
  def runningMaxPerUserTWS(events: Dataset[(Long, Long, Double)])
      : Dataset[(Long, Double, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningMaxProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming twin of `TimeOps.stateRuns` (CDC → SCD2 compaction) via
    * [[StateRunsProcessor]]: input a streaming Dataset of
    * (user_id, ts_ms, event_id, event_type); emits each run the moment a
    * state CHANGE closes it — (user_id, run_id, state, valid_from_ms,
    * valid_to_ms, n_events) — while the open run per key waits in
    * RocksDB. Stream output ≡ the batch twin's closed rows
    * (valid_to_ms IS NOT NULL) for in-order per-key arrival
    * (StreamingSpec pins it across multi-batch feeds). The maintenance
    * shape a 100 TB dimension-history pipeline needs: per-event work is
    * O(1), state is one open run per key, and history rows never
    * rewrite.
    */
  def stateRunsTWS(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(Long, Long, String, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new StateRunsProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Watermark-honoring twin of [[stateRunsTWS]] via
    * [[StateRunsLateProcessor]]: events may arrive out of order within
    * `delay`; each is buffered until the watermark proves its fold
    * position final, so closed-run output ≡ batch for ANY within-lateness
    * arrival order (the in-order twin diverges there — an emitted run
    * cannot be retracted). Input: a streaming Dataset of
    * (user_id, ts_ms, event_id, event_type). Requires the RocksDB state
    * store provider.
    */
  def stateRunsLateTWS(events: Dataset[(Long, Long, Long, String)],
                       delay: String = "10 seconds")
      : Dataset[(Long, Long, String, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "ts_ms", "event_id", "event_type")
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_utc", delay)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new StateRunsLateProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Timer-based session expiry via [[SessionExpiryProcessor]]: input a
    * streaming Dataset of (user_id, ts_ms); sessions close `gapMs` after
    * their last event AS THE WATERMARK ADVANCES (event-time timers), not
    * merely when the user happens to send another row. Returns
    * (user_id, n_events, session_end_ms). Requires the RocksDB state
    * store provider, like every transformWithState op.
    *
    * The stream ≡ batch guarantee holds for in-order per-key arrival
    * (the `watermark` default of "0 seconds"); raising the delay admits
    * late events the hybrid close contract cannot retract emitted
    * sessions for — see [[SessionExpiryProcessor.handleInputRows]]. For
    * out-of-order feeds use [[sessionLateTWS]], the buffer-until-final
    * twin that holds stream ≡ batch under any arrival order within the
    * lateness window (at the cost of buffering the not-yet-final suffix).
    */
  def sessionExpiryTWS(events: Dataset[(Long, Long)], gapMs: Long,
                       watermark: String = "0 seconds"): Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "ts_ms")
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_utc", watermark)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionExpiryProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[sessionExpiryTWS]]'s late twin via [[SessionLateProcessor]]:
    * buffers within the `delay` lateness window and folds events only
    * when final, so out-of-order per-key arrival still produces exactly
    * the batch sessionization's closed sessions (StreamingSpec pins it
    * on shuffled real feeds and across a checkpointed restart).
    */
  def sessionLateTWS(events: Dataset[(Long, Long)], gapMs: Long,
                     delay: String = "10 seconds"): Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "ts_ms")
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_utc", delay)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionLateProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming interval union via [[IntervalUnionLateProcessor]]: emits
    * each CLOSED merged [s, e) interval with its event count; per-user
    * coverage aggregates are a downstream groupBy. Late-tolerant within
    * `delay`, like the other buffer-until-final twins.
    */
  def intervalUnionLateTWS(events: Dataset[(Long, Long)], lenMs: Long,
                           delay: String = "10 seconds")
      : Dataset[(Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "ts_ms")
      .withColumn("ts_utc", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_utc", delay)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new IntervalUnionLateProcessor(lenMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming exact-dedup with TTL-bounded state via
    * [[DedupTtlProcessor]]: input a streaming Dataset of
    * (digest, doc_id); the first row per digest in each `ttl` window
    * passes through, repeats are dropped, and idle digests leave RocksDB
    * when the TTL sweep runs. TTL state requires
    * `TimeMode.ProcessingTime` and the RocksDB state store provider.
    */
  def streamingDedupTTL(docs: Dataset[(String, Long)],
                        ttl: java.time.Duration): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_._1)
      .transformWithState(new DedupTtlProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Streaming benchmark decontamination — the arriving-documents twin of
    * `q_decontaminate`: each micro-batch of documents is flagged against a
    * STATIC benchmark shingle set. Deliberately STATELESS: instead of the
    * batch query's explode → join → per-doc aggregate (which in streaming
    * would keep per-doc state forever), the benchmark set is collapsed to
    * ONE broadcast row and the overlap count is a per-row
    * `array_intersect` — so the stream holds zero state, runs in append
    * mode, restarts at micro-batch granularity, and its throughput is a
    * pure map over arrivals. The benchmark side is eval-sized by contract
    * (same broadcast argument as the batch query, plan-pinned there).
    * Overlap semantics match the batch query exactly: distinct-shingle
    * intersection count.
    */
  def decontaminateStream(docs: DataFrame,
                          benchShingles: DataFrame): DataFrame = {
    val benchArr = benchShingles
      .agg(collect_set("shingle").as("bench_set"))
      .withColumn("__k", lit(1))
    val sh = docs.select(col("doc_id"),
      array_distinct(graft.functions.WordShinglesF.shingles(
        docs.sparkSession, split(trim(col("text")), "\\s+"), 3)).as("sh"))
    sh.withColumn("__k", lit(1))
      .join(broadcast(benchArr), Seq("__k"))
      .select(col("doc_id"),
        size(array_intersect(col("sh"), col("bench_set"))).cast("long")
          .as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
  }

  /** Streaming incremental near-dedup — the arriving-documents twin of
    * `q_dedup_incremental`: each micro-batch of documents derives its
    * (doc_id, band) rows via the row-local
    * [[graft.ops.Dedup.lshBandTableLocal]] (a stateless projection — the
    * grouped band table would be forever-growing per-doc aggregation
    * state) and inner-joins the STATIC stored band index on the band key.
    * Zero streaming state, append mode, restartable at micro-batch
    * granularity. Emits one (doc_id, matched_doc) row per shared band —
    * a pair sharing both bands appears twice; the downstream index-update
    * batch job dedupes when it compacts (the spec compares SETS against
    * the batch twin). At corpus scale the static side is a band-bucketed
    * parquet table, so the per-batch join co-locates on the bucket key
    * instead of reshuffling history.
    *
    * CONTRACT (r13 review): this stream flags arrivals against the
    * INDEXED snapshot only — two near-dups that both arrive after the
    * snapshot was taken are NOT paired here (statelessness is the point:
    * an in-stream pair memory is unbounded state). Intra-stream pairs
    * are the index-update job's responsibility — the periodic
    * [[graft.ops.Dedup.bandIndexIngest]] batch both finds them
    * (its union side) and refreshes the snapshot this stream probes.
    */
  def dedupIncrementalStream(docs: DataFrame,
                             storedBands: DataFrame): DataFrame = {
    val nb = graft.ops.Dedup.lshBandTableLocal(docs, "doc_id", "text")
    nb.join(storedBands.select(col("doc_id").as("matched_doc"),
        col("band").as("band_o")),
        col("band") === col("band_o") && col("doc_id") =!= col("matched_doc"))
      .select(col("doc_id"), col("matched_doc"))
  }

  /** End-to-end STREAMING ingest against the PERSISTED band index — the
    * continuous-ingest loop [[graft.ops.Dedup.bandIndexIngest]] was built
    * for, driven from a stream: each micro-batch probes the index through
    * the bucket-PRUNED read (static `bkt IN` partition filter over the
    * batch's touched buckets) and appends itself so the next batch sees
    * it as history. `foreachBatch` executes batches SERIALLY, which is
    * exactly the index's single-writer contract — the streaming runtime
    * provides the serialization the batch API documents as the caller's
    * job. Unlike [[dedupIncrementalStream]] (stateless snapshot-probe,
    * misses arrival↔arrival pairs), this finds every pair exactly once
    * across the feed (the sharded-ingest completeness property —
    * StreamingSpec pins the stream's union against the full-corpus batch
    * self-join). Candidates land in `outPath` tagged with the batch id;
    * delivery is at-least-once on restart (a replayed batch re-emits its
    * pairs and re-appends its bands — band duplicates change neither the
    * candidate SET nor the bounded probe's occupancy accounting, which
    * counts DISTINCT members; downstream consumers dedupe pairs by
    * nature).
    */
  def dedupIndexIngestStream(docs: DataFrame, indexPath: String,
                             outPath: String, checkpoint: String,
                             compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Dedup.bandIndexIngest(indexPath, batch, "doc_id", "text")
          .pairs.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outPath)
        if (dueForCompact(compactEvery, id))
          graft.ops.Dedup.BandIndex.compact(batch.sparkSession, indexPath)
      }.start()

  /** Index-growth housekeeping for the foreachBatch loops (r14 verdict
    * #4): each micro-batch appends one file per touched bucket, so a
    * long-running stream accumulates files without bound and the pruned
    * probe's per-bucket listing degrades. `compactEvery = N` folds the
    * indexes back to one file per bucket after every Nth batch (0 =
    * never) — the loop's serial execution IS the compactor's
    * single-writer contract, and a crash mid-compact heals at the next
    * batch's entry point (the staged-swap recovery). Compaction runs
    * after the batch commits, so a replayed batch may re-compact:
    * idempotent by construction.
    */
  private def dueForCompact(compactEvery: Int, id: Long): Boolean =
    compactEvery > 0 && (id + 1) % compactEvery == 0

  /** Attach a continuously-MAINTAINED ANN serving index to a streaming
    * corpus flow (r19 — the r18 verdict's #1, closing the serving
    * lifecycle's last human-in-the-loop step): with a `Serving` passed
    * to [[vectorCurationIngestStream]] / [[unifiedIngestStream]] /
    * [[lateEmbeddingStream]] / [[lateTextStream]], every micro-batch
    * ends by driving [[graft.ops.IvfIndex.maintainCycle]] — kept
    * vectors append (ledgered, exactly-once per feed lane), evicted
    * vectors tombstone, and the watch's verdict (refine / retrain /
    * purge) is APPLIED inline on the batch cadence instead of waiting
    * for an operator. The index bootstraps itself from the kept-vector
    * store at the first maintained batch ([[graft.ops.IvfIndex
    * .bootstrapServing]] — so attaching mid-stream serves the full
    * live corpus, not just post-attach arrivals), and a retrain verdict
    * re-fits from the same store (the production source-of-truth
    * contract). `onWatch` observes each cycle's verdict (log it, alert
    * on `retrain` streaks, assert on it in tests).
    *
    * maxCellRows is per-cell occupancy before `refine`; nlist the
    * bootstrap's cell count. All feeds of one unified dir pass the SAME
    * `Serving` (same path): their mutations are serialized by a JVM
    * monitor here (the [[rootsLock]] single-driver rationale), and each
    * feed's appends are ledgered under its own lane, so the feeds'
    * independent foreachBatch id sequences never collide.
    */
  final case class Serving(path: String,
                           maxCellRows: Long = 100000L,
                           nlist: Int = 64,
                           driftMargin: Double = 0.05,
                           maxTombstoneFrac: Double = 0.2,
                           buildIters: Int = 2,
                           onWatch: graft.ops.IvfIndex.MaintainWatch => Unit =
                             _ => ())

  /** Canonical monitor key for a store/view dir (r19 verdict — the
    * monitor maps used to key on the caller's raw string, so two
    * spellings of ONE directory — trailing slash, `./`-relative, a `.`
    * segment — got DISTINCT monitors and silently voided the
    * single-writer serialization both lock docs promise). Scheme-less
    * paths resolve to an absolute normalized local form (the `local[n]`
    * deployment this library tests under); scheme'd URIs normalize
    * through `Path`/`URI` (duplicate and trailing slashes, `.`
    * segments). Symlink aliasing stays out of scope — it needs a
    * filesystem round-trip per lock and no caller spells one.
    */
  private[graft] def monitorKey(path: String): String = {
    val u = new org.apache.hadoop.fs.Path(path).toUri
    if (u.getScheme == null)
      java.nio.file.Paths.get(u.getPath).toAbsolutePath.normalize.toString
    else u.normalize.toString
  }

  private val servingMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def servingLock[T](path: String)(body: => T): T =
    servingMonitors.getOrElseUpdate(monitorKey(path), new Object)
      .synchronized(body)

  /** One serving-maintenance cycle for a corpus-flow micro-batch: the
    * composition [[graft.ops.IvfIndex.maintainCycle]] packages, under
    * the per-index monitor, fed with the batch's kept vectors and
    * evicted ids and sourced (for retrain) from the kept-vector store
    * at `storePath`. Crash contract: runs LAST in each step, after the
    * flow's own ledger+commit — a crash before it replays the batch,
    * whose reconstructed kept/evict sets re-drive this cycle with the
    * same (lane, batchId); the lane ledger skips an already-applied
    * append, removals are idempotent, and the watch's action is
    * resolution-idempotent (a lost action is re-recommended next
    * cycle). Appends are validity-filtered exactly like
    * [[graft.ops.VectorFlow.commit]]'s mutation boundary, so served
    * membership mirrors the store's.
    */
  private[graft] def maintainServing(sv: Serving, storePath: String,
                                     appends: DataFrame,
                                     removals: Option[DataFrame],
                                     id: Long, lane: String,
                                     replay: Boolean = false): Unit =
                                     servingLock(sv.path) {
    val spark = appends.sparkSession
    val fs = new org.apache.hadoop.fs.Path(sv.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def centroidsExist = fs.exists(
      new org.apache.hadoop.fs.Path(sv.path + "/centroids"))
    // validity gate = VectorFlow.commit's, ALL THREE legs — null,
    // zero-norm, AND the store's frozen dimension (r19 ADVICE: the
    // unified replay path passes the full text-kept set, which can
    // carry a dim-mismatched embedding the vec store rejected; without
    // the dim leg a crash-replay appended it to the serving index the
    // store never held, breaking served==store and mixing dims). The
    // sidecar lives at the flow dir's root — storePath's parent by the
    // layout contract (<flowDir>/vectors) every caller here follows.
    val frozenD = graft.ops.VectorFlow.frozenDim(spark,
      new org.apache.hadoop.fs.Path(storePath).getParent.toString)
    val preClean = appends
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull &&
        graft.ops.Similarity.l2Norm(col("embedding")) > 0d)
    val clean = frozenD.fold(preClean)(d =>
      preClean.filter(size(col("embedding")) === d))
    if (!centroidsExist) {
      // first maintained batch: bootstrap from the kept-vector store —
      // the flow's commit ran before this, so the store already holds
      // THIS batch's kept rows plus any corpus built before the serving
      // spec was attached (full live membership, and the bootstrap
      // ledgers this id in our lane so a replay skips its append)
      // no removals here: store evictions are PHYSICAL (the commit ran
      // first), so the post-commit store — hence the bootstrap — never
      // contains this batch's evicted rows
      if (fs.exists(new org.apache.hadoop.fs.Path(storePath))) {
        val store = spark.read.parquet(storePath)
          .select("vec_id", "embedding")
        if (!store.isEmpty)
          graft.ops.IvfIndex.bootstrapServing(spark, sv.path, store,
            sv.nlist, sv.buildIters, lane = lane, batchId = id)
      }
    } else {
      // REPLAY dedupe: a crashed batch can replay after ANOTHER feed's
      // first cycle bootstrapped the index from the store (which held
      // this batch's committed rows) without this lane's ledger knowing
      // — the anti-join keeps the replayed append membership-exact. A
      // replay whose original append DID ledger skips in maintainCycle
      // regardless; the scan is replay-only, never the hot path.
      val toAppend =
        if (!replay) clean
        else clean.join(
          spark.read.parquet(sv.path + "/assignments").select("vec_id"),
          Seq("vec_id"), "left_anti")
      // `source` is maintainCycle's BY-NAME param, referenced only in
      // its retrain branch — `ok` cycles never evaluate this read, so
      // no store listing/schema inference happens on the hot cadence
      // (r19 verdict #3; IvfMaintainGuardsSpec pins it)
      val watch = graft.ops.IvfIndex.maintainCycle(spark, sv.path, toAppend,
        removals.map(_.select(col("vec_id").cast("long").as("vec_id"))),
        sv.maxCellRows, batchId = id,
        source = Some(spark.read.parquet(storePath)
          .select("vec_id", "embedding")),
        driftMargin = sv.driftMargin,
        maxTombstoneFrac = sv.maxTombstoneFrac, lane = lane)
      sv.onWatch(watch)
    }
  }

  /** An empty (vec_id, embedding) frame — the append side of a
    * removal-only serving cycle (the late-TEXT feed evicts pending
    * vectors but attaches none).
    */
  private def emptyVecs(spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  /** [[dedupIndexIngestStream]]'s EMBEDDING twin — streaming ingest
    * against the persisted hyperplane-bucket index
    * ([[graft.ops.Similarity.embIndexIngest]]): each micro-batch of
    * (vec_id, embedding) rows probes its home bucket plus every 1-bit
    * flip through the bucket-pruned stored read, appends its home rows,
    * and lands the candidate pairs in `outPath` tagged with the batch
    * id. foreachBatch's serial execution provides the index's
    * single-writer contract; delivery is at-least-once on restart (a
    * replayed batch re-emits its pairs and re-appends its home rows —
    * band duplicates change neither the candidate set nor the bounded
    * form's DISTINCT-member occupancy). `dim` is a frozen index
    * parameter like bits/seed; the default infers it per batch (empty
    * micro-batches are safe — the inference short-circuits).
    */
  def embIndexIngestStream(vectors: DataFrame, indexPath: String,
                           outPath: String, checkpoint: String,
                           bits: Int = 8, seed: Long = 42L, dim: Int = -1,
                           buckets: Int = 16, families: Int = 1,
                           compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Similarity.embIndexIngest(indexPath, batch,
            "vec_id", "embedding", bits, seed, dim, buckets, families)
          .pairs.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outPath)
        if (dueForCompact(compactEvery, id))
          graft.ops.Dedup.BandIndex.compact(batch.sparkSession, indexPath)
      }.start()

  /** G5 — gap-based sessionization via the built-in `session_window`
    * (state-store backed; the batch twin derives session ids with windows).
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(session_window(col("ts_utc"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"))

  /** Stream-STREAM interval join — the attribution staple (each click
    * joined to the same user's signups within the trailing `horizon`),
    * and the one Structured Streaming join class the engine had not yet
    * exercised: both sides are unbounded, so Spark must buffer each in
    * the state store and the TIME-RANGE condition plus both watermarks
    * are what make that state evictable — rows older than
    * watermark − horizon can never match again and are purged. Without
    * the range condition the state grows without bound (the documented
    * stream-stream trap); with it, steady-state memory is
    * O(rows-per-horizon), independent of stream length — the 100 TB/day
    * requirement. Inner joins emit on arrival of the matching side; no
    * watermark delay on output (unlike outer variants).
    *
    * Inputs: clicks (c_user, c_id, c_ts TimestampType),
    * signups (s_user, s_ts TimestampType, s_val).
    * StreamingSpec pins row-equality with the identical batch join and
    * that the join runs stateful.
    */
  def attributionJoin(clicks: DataFrame, signups: DataFrame,
                      horizon: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame =
    clicks.withWatermark("c_ts", watermark)
      .join(signups.withWatermark("s_ts", watermark),
        expr(s"c_user = s_user AND s_ts BETWEEN c_ts - interval $horizon AND c_ts"))

  /** One micro-batch step of [[curationIngestStream]] — package-visible
    * so the replay contract is directly testable. Write order is the
    * crash-safety argument:
    *   1. [[graft.ops.CurationFlow.decide]] pins the decisions against
    *      the CURRENT indexes (checkpointed inputs);
    *   2. the decisions land in `outPath` via [[writeDecisions]] —
    *      partitioned by batch id with DYNAMIC partition overwrite, so
    *      the write is idempotent per batch;
    *   3. the cursor ledger commits (batchId, start, end);
    *   4. [[graft.ops.CurationFlow.commit]] appends the kept corpus.
    * A crash before 3 replays the batch against UNCHANGED indexes —
    * identical decisions, and the overwrite replaces the crashed
    * attempt's partition instead of appending next to it (the r14
    * verdict's remaining window: `mode("append")` here duplicated the
    * batch's decision rows). Once the ledger is at this batchId (crash
    * between 3 and 4, INSIDE 4's two appends, or a post-commit
    * redelivery), the batch NEVER re-decides: its decisions and ledger
    * are already durable, the indexes may hold its kept docs in
    * neither, one, or both indexes — so the step reconstructs the kept
    * set from the recorded output and re-runs ONLY the commit, which is
    * idempotent (duplicate digest/band rows change no membership or
    * candidate set). The kept corpus, the cursor, and every batch's
    * decision rows are EXACTLY-ONCE under any replay. (The replay must
    * redeliver the same batch content — foreachBatch's contract with a
    * replayable source.)
    */
  private[graft] def curationStep(indexPath: String, outPath: String,
                                  bench: DataFrame, budget: Long,
                                  buckets: Int,
                                  maxBucket: Int = Int.MaxValue,
                                  compactEvery: Int = 0,
                                  rootsPath: Option[String] = None)
                                 (batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    graft.ops.CurationFlow.readLedger(spark, indexPath) match {
      case Some((bid, _, _)) if bid == id =>
        // replayed batch: ledger committed ⇒ its decisions were written
        // strictly before the ledger. Re-commit only; the batch_id
        // partition filter prunes the read to one directory.
        val keptIds = recordedKeptIds(spark, outPath, id, "doc_id")
        graft.ops.CurationFlow.commit(indexPath,
          batch.join(keptIds, Seq("doc_id"), "left_semi"), buckets)
      case led =>
        val start = led match {
          case Some((_, _, e)) => e
          case None => 0L
        }
        val staged = graft.ops.CurationFlow.decide(indexPath, batch, bench,
          start, budget, buckets, maxBucket)
        writeDecisions(staged.decisions, id, outPath)
        // roots BEFORE the ledger: a ledger-committed batch never
        // re-decides, so its roots partition must already be durable;
        // any crash before the ledger re-decides and rewrites both
        // partitions idempotically
        rootsPath.foreach(p => maintainRoots(p, staged.decisions, id))
        graft.ops.CurationFlow.writeLedger(spark, indexPath, id, start,
          staged.cursor)
        graft.ops.CurationFlow.commit(indexPath, staged.kept, buckets,
          Some(staged.keptBands))
    }
    if (dueForCompact(compactEvery, id)) {
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/digest")
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/bands")
      rootsPath.foreach(p => compactRoots(spark, p))
    }
  }

  /** [[curationStep]]'s VECTOR twin — one micro-batch of the continuous
    * vector-corpus build ([[graft.ops.VectorFlow]]), same write order,
    * same crash-safety argument, same ledger (it lives under the vector
    * index dir): decide → idempotent decisions partition → cursor
    * ledger → commit. A ledger-committed batch never re-decides; its
    * replay reconstructs the kept ids from the recorded decisions and
    * re-runs only the (idempotent) three-store commit.
    */
  private[graft] def vectorCurationStep(indexPath: String, outPath: String,
                                        params: graft.ops.VectorFlow.Params,
                                        compactEvery: Int = 0,
                                        rootsPath: Option[String] = None,
                                        serving: Option[Serving] = None)
                                       (batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    graft.ops.CurationFlow.readLedger(spark, indexPath) match {
      case Some((bid, _, _)) if bid == id =>
        val keptIds = recordedKeptIds(spark, outPath, id, "vec_id")
        val kept = batch.join(keptIds, Seq("vec_id"), "left_semi")
        graft.ops.VectorFlow.commit(indexPath, kept, params, prio = id)
        serving.foreach(sv => maintainServing(sv, indexPath + "/vectors",
          kept.select("vec_id", "embedding"), None, id, lane = "ing",
          replay = true))
      case led =>
        val start = led match {
          case Some((_, _, e)) => e
          case None => 0L
        }
        val staged = graft.ops.VectorFlow.decide(indexPath, batch, start,
          params)
        writeDecisions(staged.decisions, id, outPath)
        rootsPath.foreach(p => maintainRoots(p,
          staged.decisions.withColumnRenamed("vec_id", "doc_id"), id))
        graft.ops.CurationFlow.writeLedger(spark, indexPath, id, start,
          staged.cursor)
        graft.ops.VectorFlow.commit(indexPath, staged.kept, params,
          Some(staged.keptBands), prio = id)
        serving.foreach(sv => maintainServing(sv, indexPath + "/vectors",
          staged.kept.select("vec_id", "embedding"), None, id,
          lane = "ing"))
    }
    if (dueForCompact(compactEvery, id)) {
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/digest")
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/bands")
      graft.ops.VectorFlow.KeptVectors.compact(spark, indexPath + "/vectors")
      rootsPath.foreach(p => compactRoots(spark, p))
    }
  }

  /** The CONTINUOUS vector-corpus build as a stream — the embedding
    * analog of [[curationIngestStream]], closing the text↔vector
    * symmetry at the corpus level: each micro-batch of
    * (vec_id, embedding) rows runs [[graft.ops.VectorFlow]]'s
    * first-wins stage chain against the persisted digest + band +
    * vector stores, lands every vector's decision (with its duplicate
    * map: `matched_id`) in `outPath` as an idempotent batch partition,
    * and carries the cumulative kept count through the `_cursor`
    * ledger. foreachBatch's serial execution provides the three
    * stores' single-writer contract.
    */
  def vectorCurationIngestStream(vectors: DataFrame, indexPath: String,
                                 outPath: String, checkpoint: String,
                                 params: graft.ops.VectorFlow.Params =
                                   graft.ops.VectorFlow.Params(),
                                 compactEvery: Int = 0,
                                 rootsPath: Option[String] = None,
                                 serving: Option[Serving] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(vectorCurationStep(indexPath, outPath, params,
        compactEvery, rootsPath, serving) _)
      .start()

  /** [[curationStep]]'s UNIFIED twin — one micro-batch of the
    * text+vector corpus build ([[graft.ops.UnifiedFlow]]), same write
    * order, ledger, idempotent decisions partition, and replay contract;
    * the replay re-commits BOTH modal stores from the recorded kept ids
    * (the vector commit's validity filter handles the kept docs that
    * never had an embedding).
    */
  private[graft] def unifiedStep(indexPath: String, outPath: String,
                                 bench: DataFrame, budget: Long,
                                 buckets: Int,
                                 maxBucket: Int = Int.MaxValue,
                                 vec: graft.ops.VectorFlow.Params =
                                   graft.ops.VectorFlow.Params(),
                                 compactEvery: Int = 0,
                                 rootsPath: Option[String] = None,
                                 serving: Option[Serving] = None)
                                (batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    graft.ops.CurationFlow.readLedger(spark, indexPath) match {
      case Some((bid, _, _)) if bid == id =>
        val keptIds = recordedKeptIds(spark, outPath, id, "doc_id")
        val kept = batch.join(keptIds, Seq("doc_id"), "left_semi")
        // the FULL store set, keeper-meta included — the pre-r17 replay
        // lost textmeta rows in the crash window (see replayCommit)
        graft.ops.UnifiedFlow.replayCommit(indexPath, kept, buckets, vec,
          prio = id)
        serving.foreach(sv => maintainServing(sv,
          indexPath + "/vec/vectors",
          kept.select(col("doc_id").as("vec_id"), col("embedding")),
          None, id, lane = "ing", replay = true))
      case led =>
        // the TOKEN cursor is global across the ingest loop and the
        // late-TEXT correction feed (both pack sequences) — each feed
        // keeps its OWN ledger for replay detection, and the cursor
        // continues from whichever advanced it last (the feeds are
        // serialized by the single-writer contract)
        val start = math.max(led.map(_._3).getOrElse(0L),
          graft.ops.CurationFlow.readLedger(spark, indexPath + "/ltext")
            .map(_._3).getOrElse(0L))
        val staged = graft.ops.UnifiedFlow.decide(indexPath, batch, bench,
          start, budget, buckets, maxBucket, vec)
        writeDecisions(staged.decisions, id, outPath)
        rootsPath.foreach(p => maintainRoots(p, staged.decisions, id))
        graft.ops.CurationFlow.writeLedger(spark, indexPath, id, start,
          staged.cursor)
        graft.ops.UnifiedFlow.commit(indexPath, staged, buckets, vec,
          prio = id)
        serving.foreach(sv => maintainServing(sv,
          indexPath + "/vec/vectors",
          staged.keptVecs.select("vec_id", "embedding"), None, id,
          lane = "ing"))
    }
    if (dueForCompact(compactEvery, id)) {
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/digest")
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/bands")
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/vec/digest")
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/vec/bands")
      graft.ops.VectorFlow.KeptVectors.compact(spark,
        indexPath + "/vec/vectors")
      rootsPath.foreach(p => compactRoots(spark, p))
    }
  }

  /** The CONTINUOUS unified text+vector corpus build as a stream — each
    * micro-batch of (doc_id, text, n_chars, embedding) rows runs
    * [[graft.ops.UnifiedFlow]]'s two-modality first-wins chain with the
    * shared ledger/replay/compaction machinery.
    */
  def unifiedIngestStream(docs: DataFrame, indexPath: String,
                          outPath: String, checkpoint: String,
                          bench: DataFrame, budget: Long = 256L,
                          buckets: Int = 16,
                          maxBucket: Int = Int.MaxValue,
                          vec: graft.ops.VectorFlow.Params =
                            graft.ops.VectorFlow.Params(),
                          compactEvery: Int = 0,
                          rootsPath: Option[String] = None,
                          serving: Option[Serving] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(unifiedStep(indexPath, outPath, bench, budget,
        buckets, maxBucket, vec, compactEvery, rootsPath, serving) _)
      .start()

  /** One micro-batch of the LATE-EMBEDDING correction feed against a
    * unified corpus — [[graft.ops.UnifiedFlow.lateEmbeddings]] under
    * the shared ledger/idempotent-partition/replay machinery. The
    * ledger lives at `indexPath/vec` (never written by the ingest
    * loop, whose ledger is at the unified root), carrying the
    * cumulative ATTACHED count. Write order: lateDecide pins the
    * corrections against the current stores → corrections land as an
    * idempotent batch_id partition → ledger → lateCommit (evict
    * removals, then attach appends). A ledger-committed batch never
    * re-decides: attach rows reconstruct from the recorded `attached`
    * ids ∩ the redelivered batch; evicted ids (correction rows NOT in
    * the batch) re-FETCH from the vector store — still present means
    * the removals must re-run (the commit removes vectors LAST, so a
    * present vector row proves nothing after it completed), absent
    * means all three did. Removals and appends are both idempotent, so
    * the stores converge under any crash/replay interleaving.
    *
    * SINGLE-WRITER: the correction feed mutates the same `vec/` stores
    * as the ingest loop — serialize them (alternate triggers, or route
    * late embeddings through the same driver thread); two concurrent
    * foreachBatch loops on one dir void the index contract.
    */
  private[graft] def lateEmbeddingStep(indexPath: String, outPath: String,
                                       vec: graft.ops.VectorFlow.Params,
                                       rootsPath: Option[String] = None,
                                       compactEvery: Int = 0,
                                       serving: Option[Serving] = None)
                                      (batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    val vdir = indexPath + "/vec"
    val lateIn = batch.select(col("doc_id").as("vec_id"), col("embedding"),
      col("prio"))
    graft.ops.CurationFlow.readLedger(spark, vdir) match {
      case Some((bid, _, _)) if bid == id =>
        val cor = recordedCorrections(spark, outPath, id, CorrCols: _*)
        // fetch-first on the ATTACH side too (r16 ADVICE): an attached
        // id already present in the vector store proves the original
        // attempt's three appends completed (lateCommitParts appends
        // the vector store LAST), so re-appending would duplicate its
        // store rows on every post-commit redelivery. Only the ids the
        // store does NOT have re-run the appends.
        val attach = lateIn.join(
          cor.filter(col("status") === "attached")
            .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val attachNew = attach.join(
          graft.ops.VectorFlow.KeptVectors.fetch(vdir + "/vectors",
            attach.select("vec_id"), vec.buckets).select("vec_id"),
          Seq("vec_id"), "left_anti")
        val evictIds = cor.filter(col("status").isin("embdup_late",
            "semdup_late")).select(col("doc_id").as("vec_id"))
          .join(lateIn.select("vec_id"), Seq("vec_id"), "left_anti")
        val evictRows = graft.ops.VectorFlow.KeptVectors.fetch(
          vdir + "/vectors", evictIds, vec.buckets)
        graft.ops.VectorFlow.lateCommitParts(vdir, attachNew, None,
          evictRows, vec)
        // the FULL attached set (not attachNew): the serving lane's own
        // ledger and the replay dedupe decide what actually appends
        serving.foreach(sv => maintainServing(sv, vdir + "/vectors",
          attach.select("vec_id", "embedding"), Some(evictIds), id,
          lane = "lemb", replay = true))
      case led =>
        val start = led match {
          case Some((_, _, e)) => e
          case None => 0L
        }
        val staged = graft.ops.VectorFlow.lateDecide(vdir, lateIn, vec)
        val corrDocs = staged.corrections
          .withColumnRenamed("vec_id", "doc_id")
        writeDecisions(corrDocs, id, outPath)
        // roots BEFORE the ledger, like the ingest loop's maintainRoots:
        // a ledger-committed correction batch never re-decides, so its
        // roots-correction partition must already be durable
        rootsPath.foreach(p => correctRoots(p, corrDocs, id, feed = "lemb"))
        graft.ops.CurationFlow.writeLedger(spark, vdir, id, start,
          start + staged.attach.count())
        graft.ops.VectorFlow.lateCommit(vdir, staged, vec)
        serving.foreach(sv => maintainServing(sv, vdir + "/vectors",
          staged.attach.select("vec_id", "embedding"),
          Some(staged.evict.select("vec_id")), id, lane = "lemb"))
    }
    // a correction-heavy corpus with sparse ingest must not wait for
    // the ingest loop's schedule to bound its files (r17): the late
    // feed compacts the stores IT mutates, roots fold included
    if (dueForCompact(compactEvery, id)) {
      graft.ops.Dedup.BandIndex.compact(spark, vdir + "/digest")
      graft.ops.Dedup.BandIndex.compact(spark, vdir + "/bands")
      graft.ops.VectorFlow.KeptVectors.compact(spark, vdir + "/vectors")
      rootsPath.foreach(p => compactRoots(spark, p))
    }
  }

  /** The LATE-EMBEDDING correction feed as a stream: each micro-batch
    * of (doc_id, embedding, prio) rows — embeddings computed
    * asynchronously for docs already text-kept, prio = the doc's
    * original keep batch — runs the retroactive semantic pass against
    * the unified corpus's `vec/` stores ([[lateEmbeddingStep]]'s
    * ledger/replay contract; see its SINGLE-WRITER note). A `rootsPath`
    * — the SAME dir the ingest loop maintains — additionally applies
    * each pass's roots correction ([[correctRoots]]), keeping
    * [[serveRoots]] exact through the evictions.
    */
  def lateEmbeddingStream(late: DataFrame, indexPath: String,
                          outPath: String, checkpoint: String,
                          vec: graft.ops.VectorFlow.Params =
                            graft.ops.VectorFlow.Params(),
                          rootsPath: Option[String] = None,
                          compactEvery: Int = 0,
                          serving: Option[Serving] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    late.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(lateEmbeddingStep(indexPath, outPath, vec,
        rootsPath, compactEvery, serving) _)
      .start()

  /** One micro-batch of the LATE-TEXT correction feed against a unified
    * corpus — [[graft.ops.UnifiedFlow.lateTextDecide]]/
    * [[graft.ops.UnifiedFlow.lateTextCommit]] under the shared
    * ledger/idempotent-partition/replay machinery,
    * [[lateEmbeddingStep]]'s full mirror. The feed's own ledger lives at
    * `indexPath/ltext` (never written by the ingest loop or the
    * embedding feed); because the pass PACKS its attachers, the token
    * cursor it carries is GLOBAL — a fresh batch starts from
    * max(ingest ledger end, ltext ledger end), and the ingest loop
    * reads the same max, so sequence ids never collide across the two
    * feeds. Write order: lateTextDecide pins the corrections against
    * the current stores → idempotent `batch_id=` partition → roots
    * correction (when maintained) → ltext ledger → lateTextCommit.
    *
    * Replay of a ledger-committed batch never re-decides. The
    * keeper-meta store is each side's LAST mutation
    * ([[graft.ops.UnifiedFlow.lateTextCommitParts]]), so the
    * reconstruction is fetch-first: an attached id with a meta row
    * proves the original index appends completed (skip); an evicted id
    * whose meta row is still present proves the removals must (re-)run
    * — and the row carries the digest/band handles to do it; absent
    * means all removals finished. The retroactive vector drops re-run
    * unconditionally (the pruned store fetch returns present rows only;
    * the removals are idempotent).
    *
    * SINGLE-WRITER: this feed mutates the text indexes, the keeper-meta
    * store, AND the `vec/` subtree — serialize it with the ingest loop
    * and any late-embedding feed (alternate triggers or one driver
    * thread); concurrent foreachBatch loops on one dir void the index
    * contract.
    */
  private[graft] def lateTextStep(indexPath: String, outPath: String,
                                  bench: DataFrame, budget: Long = 256L,
                                  buckets: Int = 16,
                                  maxBucket: Int = Int.MaxValue,
                                  vec: graft.ops.VectorFlow.Params =
                                    graft.ops.VectorFlow.Params(),
                                  rootsPath: Option[String] = None,
                                  compactEvery: Int = 0,
                                  serving: Option[Serving] = None)
                                 (batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    val ltdir = indexPath + "/ltext"
    val withPrio =
      if (batch.columns.contains("prio"))
        batch.select(col("doc_id"), col("text"), col("n_chars"),
          coalesce(col("prio"), lit(0L)).as("prio"))
      else batch.select(col("doc_id"), col("text"), col("n_chars"),
        lit(0L).as("prio"))
    graft.ops.CurationFlow.readLedger(spark, ltdir) match {
      case Some((bid, _, _)) if bid == id =>
        val cor = recordedCorrections(spark, outPath, id,
          CorrCols :+ StructField("n_tok", LongType): _*)
        val attached = cor.filter(col("status") === "attached")
        val attachAll = withPrio
          .join(attached.select("doc_id"), Seq("doc_id"), "left_semi")
          .join(attached.select(col("doc_id"), col("n_tok")),
            Seq("doc_id"))
        val attachNew = attachAll.join(
          graft.ops.CurationFlow.KeeperMeta.fetch(
            indexPath + "/textmeta", attachAll.select("doc_id"), buckets)
            .select("doc_id"),
          Seq("doc_id"), "left_anti")
        val evictIds = cor
          .filter(col("status").isin("exact_late", "neardup_late"))
          .select("doc_id")
          .join(withPrio.select("doc_id"), Seq("doc_id"), "left_anti")
        val evictText = graft.ops.CurationFlow.KeeperMeta.fetch(
          indexPath + "/textmeta", evictIds, buckets)
        val vecDrop = cor.filter(col("status").isin("shape",
            "repetition", "benchmark", "contaminated", "exact_late",
            "neardup_late"))
          .select("doc_id")
        graft.ops.UnifiedFlow.lateTextCommitParts(indexPath, attachNew,
          None, evictText, vecDrop, buckets, vec)
        // removal-only serving cycle: a retroactively-dropped doc's
        // pending vector leaves the serving index with the store; the
        // empty append still runs the watch so a drop-heavy text feed
        // earns its purge without waiting for another feed's traffic
        serving.foreach(sv => maintainServing(sv,
          indexPath + "/vec/vectors", emptyVecs(spark),
          Some(vecDrop.select(col("doc_id").as("vec_id"))), id,
          lane = "ltext", replay = true))
      case led =>
        val start = math.max(led.map(_._3).getOrElse(0L),
          graft.ops.CurationFlow.readLedger(spark, indexPath)
            .map(_._3).getOrElse(0L))
        val staged = graft.ops.UnifiedFlow.lateTextDecide(indexPath,
          withPrio, bench, start, budget, buckets, maxBucket)
        writeDecisions(staged.corrections, id, outPath)
        rootsPath.foreach(p => correctRoots(p, staged.corrections, id,
          feed = "ltext"))
        graft.ops.CurationFlow.writeLedger(spark, ltdir, id, start,
          staged.cursor)
        graft.ops.UnifiedFlow.lateTextCommit(indexPath, staged, buckets,
          vec)
        serving.foreach(sv => maintainServing(sv,
          indexPath + "/vec/vectors", emptyVecs(spark),
          Some(staged.evictVecIds.select(col("doc_id").as("vec_id"))), id,
          lane = "ltext"))
    }
    // the stores this feed mutates: the text indexes, the keeper-meta
    // store, the vec store (pending-vector drops), and the roots view
    if (dueForCompact(compactEvery, id)) {
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/digest")
      graft.ops.Dedup.BandIndex.compact(spark, indexPath + "/bands")
      graft.ops.CurationFlow.KeeperMeta.compact(spark, indexPath + "/textmeta")
      graft.ops.VectorFlow.KeptVectors.compact(spark,
        indexPath + "/vec/vectors")
      rootsPath.foreach(p => compactRoots(spark, p))
    }
  }

  /** The LATE-TEXT correction feed as a stream: each micro-batch of
    * (doc_id, text, n_chars, prio) rows — texts re-crawled/re-rendered
    * for docs the unified loop kept as PENDING on their vectors alone,
    * prio = the doc's original keep batch — runs the retroactive text
    * pass ([[lateTextStep]]'s ledger/replay contract; see its
    * SINGLE-WRITER note). A `rootsPath` — the same dir the ingest loop
    * maintains — applies each pass's roots correction
    * ([[correctRoots]]).
    */
  def lateTextStream(late: DataFrame, indexPath: String, outPath: String,
                     checkpoint: String, bench: DataFrame,
                     budget: Long = 256L, buckets: Int = 16,
                     maxBucket: Int = Int.MaxValue,
                     vec: graft.ops.VectorFlow.Params =
                       graft.ops.VectorFlow.Params(),
                     rootsPath: Option[String] = None,
                     compactEvery: Int = 0,
                     serving: Option[Serving] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    late.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(lateTextStep(indexPath, outPath, bench, budget,
        buckets, maxBucket, vec, rootsPath, compactEvery, serving) _)
      .start()

  /** The replay path's read of a ledger-committed late batch's
    * correction rows: `cols` ((doc_id, status), plus n_tok for the
    * late-TEXT replay's attach reconstruction) of batch `id`.
    */
  private def recordedCorrections(spark: org.apache.spark.sql.SparkSession,
                                  outPath: String, id: Long,
                                  cols: StructField*): DataFrame =
    readOrEmpty(spark, outPath,
        StructType(cols :+ StructField("batch_id", LongType)))
      .filter(col("batch_id") === id)
      .select(cols.map(f => col(f.name)): _*).distinct()

  private val CorrCols = Seq(StructField("doc_id", LongType),
    StructField("status", StringType))

  /** The replay path's read of a ledger-committed batch's kept ids.
    * Guarded for the first-ever-EMPTY-batch crash window (r15 review):
    * an empty batch writes no decisions partition but DOES commit its
    * ledger, so a replay of batch 0 can find `outPath` absent — the
    * correct answer there is "no kept ids".
    */
  private def recordedKeptIds(spark: org.apache.spark.sql.SparkSession,
                              outPath: String, id: Long,
                              idCol: String): DataFrame =
    readOrEmpty(spark, outPath, StructType(Seq(StructField(idCol, LongType),
        StructField("status", StringType),
        StructField("batch_id", LongType))))
      .filter(col("batch_id") === id && col("status") === "kept")
      .select(idCol).distinct()

  /** The absent-safe explicit-schema parquet read behind the replay and
    * roots-view readers: no schema inference (a data-less dir reads, and
    * a `batch_id=3` partition stays LONG where inference reads int), and
    * a missing dir reads as no rows.
    */
  private def readOrEmpty(spark: org.apache.spark.sql.SparkSession,
                          path: String, shape: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(shape).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), shape)
  }

  /** The idempotent per-batch decisions write: one `batch_id=` partition
    * per micro-batch, dynamic overwrite so a replayed batch REPLACES its
    * crashed attempt's rows instead of appending a duplicate set. A
    * decisions consumer therefore sees every (batch_id, doc_id) exactly
    * once under any crash/replay interleaving — the partition is only
    * readable complete (parquet commit), only rewritten identically
    * (decide is deterministic against untouched indexes), and never
    * written again once the ledger passes this id.
    */
  private[graft] def writeDecisions(decisions: DataFrame, id: Long,
                                    outPath: String): Unit =
    decisions.withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)

  /** Maintain the duplicate-map ROOTS view per ingested batch (r16
    * verdict #5): `q_dup_map`'s closure answers the consumer question in
    * batch from the full decisions artifact; a continuously-ingesting
    * corpus wants the roots table MAINTAINED as decisions land. The
    * batch's loser rows ((doc_id, matched_id) edges) chase to their
    * terminal roots WITHIN the batch ([[graft.ops.Graph.dupRoots]] over
    * the batch's own edges) — chains never need a cross-batch hop,
    * because a cross-batch matched_id always points at a KEPT stored
    * doc (the indexes hold the kept corpus only), and a kept doc never
    * loses later in the plain ingest loop. The rows land as one
    * idempotent `batch_id=` partition, exactly the decisions write's
    * crash contract; the view's union over partitions therefore equals
    * the full-artifact recompute at every batch boundary
    * (StreamingSpec pins it). Kept docs root to themselves and gate
    * drops to nothing, by construction — consumers coalesce exactly
    * like `q_dup_map`'s serve.
    *
    * SCOPE: the plain ingest loop. The LATE correction passes evict
    * previously-kept docs, which can invalidate recorded roots — a
    * corpus running corrections should recompute the view from the
    * decisions ∪ corrections artifacts (the q_dup_map shape) or apply
    * [[correctRoots]]' correction rewrite — the late steps do exactly
    * that when given the same `rootsPath`, and [[serveRoots]] is the
    * consumer read that composes the two.
    */
  private[graft] def maintainRoots(rootsPath: String, decisions: DataFrame,
                                   id: Long): Unit = rootsLock(rootsPath) {
    recoverRoots(decisions.sparkSession, rootsPath)
    val edges = decisions.filter(col("matched_id").isNotNull)
      .select(col("doc_id"), col("matched_id"))
    if (!edges.isEmpty)
      writeDecisions(
        graft.ops.Graph.dupRoots(edges)
          .join(edges.select("doc_id"), Seq("doc_id"), "left_semi"),
        id, rootsPath)
  }

  /** One JVM-wide monitor per roots view, serializing every mutation AND
    * serve (r17 ADVICE: the view is mutated by THREE independent
    * streaming feeds — ingest `compactEvery` plus both late-correction
    * steps — and separate StreamingQueries run their foreachBatch
    * bodies on concurrent threads, so nothing short of an explicit lock
    * enforces the single-writer serialization the `seq` stamp and the
    * fold's read-then-delete rely on). The three feeds of one view live
    * in one Spark driver (one SparkSession hosts the queries), so a JVM
    * monitor IS the serialization domain; a deployment spreading
    * writers across drivers would need an external lease on the view
    * dir — out of contract, documented here so nobody assumes
    * otherwise. Keyed by the canonical [[monitorKey]] of `rootsPath`
    * (r19 verdict: the raw string let `dir` and `dir/` coexist as two
    * monitors).
    */
  private val rootsMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def rootsLock[T](rootsPath: String)(body: => T): T =
    rootsMonitors.getOrElseUpdate(monitorKey(rootsPath), new Object)
      .synchronized(body)

  /** Maintain the roots view THROUGH a late-correction pass
    * ([[maintainRoots]]' stated scope gap, closed): a correction batch
    * EVICTS previously-kept docs, so recorded roots can go stale — any
    * doc rooted at a now-evicted keeper must chase one hop further to
    * the evicted doc's own new root. Correction rows land in a SIBLING
    * dir (`rootsPath + "_corr"`, its own `batch_id=` partition space —
    * the late feed's ledger ids are independent of the ingest loop's,
    * so sharing the plain dir would collide partitions), and
    * [[serveRoots]] resolves latest-correction-wins per doc. Per pass:
    *
    *   - the pass's own loser edges (non-null `matched_id` — evicted
    *     stored rows AND beaten late rows; gate re-verdicts like
    *     `contaminated` carry null and correctly contribute no edge)
    *     chase to terminal roots WITHIN the pass
    *     ([[graft.ops.Graph.dupRoots]] — a pass can chain, e.g. a late
    *     row beaten in stage A by a stored keeper that stage C then
    *     evicts);
    *   - every EXISTING row (plain or prior-correction) whose root is
    *     one of this pass's losers is re-rooted at that loser's new
    *     terminal root. The raw union is scan-safe without a
    *     latest-wins pre-pass: a doc's superseded row can only name a
    *     root that was ALREADY evicted when the newer row was written,
    *     and an evicted doc — no longer indexed — can never lose again,
    *     so at most the doc's LATEST row matches this pass's losers.
    *
    * Terminality: a correction `matched_id` always names a doc that is
    * kept when the pass completes (stage C evicts only by ATTACHING
    * winners; a beaten late row evicts nobody), so rewritten chains
    * end at kept docs in one pass. Chains ending at a NON-kept root
    * (a keeper dropped on a non-dedup gate) are preserved, exactly
    * `q_dup_map`'s serve semantics. The write is one idempotent
    * (feed, batch_id) partition ([[writeDecisions]]' replay contract):
    * a replayed pass recomputes identical rows — its own prior
    * partition can never match the stale scan (its rows root at kept
    * winners, and this pass's losers are not kept).
    *
    * TWO correction feeds can maintain one view (the late-embedding and
    * late-text streams each keep their OWN ledger, so their batch ids
    * collide): `feed` namespaces each pass's partition, and every row
    * is stamped with a global `seq` — 1 + the max stamp in the dir,
    * assigned at write time, which under [[rootsLock]]'s enforced
    * serialization IS the true pass order. [[serveRoots]] resolves
    * latest-`seq`-wins per doc; ordering by batch id alone would pick
    * whichever FEED was further along, not whichever pass ran last. A
    * crashed re-decide re-stamps its identical rows one seq higher into
    * its own partition — content-equal, so the serve never moves.
    */
  private[graft] def correctRoots(rootsPath: String, corrections: DataFrame,
                                  id: Long, feed: String = "late"): Unit =
                                  rootsLock(rootsPath) {
    require(feed != foldFeed, s"feed name $foldFeed is reserved for the fold")
    val spark = corrections.sparkSession
    recoverRoots(spark, rootsPath)
    val edges = corrections.filter(col("matched_id").isNotNull)
      .select(col("doc_id"), col("matched_id"))
    if (!edges.isEmpty) {
      val prior = readCorrRows(spark, rootsPath + "_corr")
      val seq = prior.agg(coalesce(max(col("seq")), lit(0L)).as("m"))
        .head().getLong(0) + 1L
      val corrRoots = graft.ops.Graph.dupRoots(edges)
        .join(edges.select("doc_id"), Seq("doc_id"), "left_semi")
      val redirect = corrRoots.select(col("doc_id").as("old_root"),
        col("root_id").as("new_root"))
      val stale = readRootRows(spark, rootsPath).select("doc_id", "root_id")
        .unionByName(prior.select("doc_id", "root_id"))
        .join(redirect, col("root_id") === col("old_root"))
        .select(col("doc_id"), col("new_root").as("root_id"))
      corrRoots.unionByName(stale)
        .withColumn("seq", lit(seq))
        .withColumn("feed", lit(feed))
        .withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("feed", "batch_id")
        .parquet(rootsPath + "_corr")
    }
  }

  /** The roots view's consumer read: plain per-batch rows overlaid by
    * the correction dir, the LATEST correction winning per doc — by the
    * global `seq` stamp ([[correctRoots]]), which orders passes across
    * BOTH late feeds; a plain row is superseded by any correction row
    * (corrections only ever move a root FORWARD past an eviction).
    * Returns (doc_id, root_id): every doc that ever lost a dedup
    * election, mapped to its terminal root; kept docs root to
    * themselves and gate drops root to nothing, by construction
    * (coalesce exactly like `q_dup_map`'s serve). The plain side is
    * deduped: leftover partitions after a crashed [[compactRoots]] can
    * duplicate rows the fold already holds. The fold lives on the
    * CORRECTION side (`feed=__fold`, the dir's max `seq` at fold time),
    * so a crashed un-ledgered ingest batch replaying AFTER a fold that
    * absorbed a late correction of its docs loses the per-doc anti-join
    * to the folded value — the replay's recomputed (stale-rooted) plain
    * row never resurfaces (r17 ADVICE's fold-vs-replay window).
    *
    * The returned rows are MATERIALIZED inside the lock (an eager
    * localCheckpoint — distributed, never a driver collect): a lazy
    * plan would release the monitor at return and scan the parquet
    * files at the consumer's leisure, racing a concurrent
    * [[compactRoots]]' scoped deletes into FileNotFound (r18 ADVICE —
    * the monitor now covers consumption, making the scaladoc's
    * "mutation AND serve" claim true rather than construction-only).
    * The checkpoint is node-count-bounded (the loser map), its blocks
    * freed by the ContextCleaner once the consumer drops the frame;
    * [[compactRoots]] — the hot repeated caller — unpersists its serve
    * explicitly after the fold lands.
    */
  def serveRoots(spark: org.apache.spark.sql.SparkSession,
                 rootsPath: String): DataFrame = rootsLock(rootsPath) {
    recoverRoots(spark, rootsPath)
    val corrLatest = readCorrRows(spark, rootsPath + "_corr")
      .groupBy("doc_id")
      .agg(max_by(col("root_id"), col("seq")).as("root_id"))
    readRootRows(spark, rootsPath).select("doc_id", "root_id").distinct()
      .join(corrLatest, Seq("doc_id"), "left_anti")
      .unionByName(corrLatest)
      .localCheckpoint()
  }

  /** The reserved correction-feed name the fold lands under. */
  private val foldFeed = "__fold"

  /** Fold the roots view's accumulated partitions — one per ingested
    * batch, plus one per correction pass in the `_corr` sibling — into
    * a SINGLE resolved partition, bounding the serve's read (the view
    * otherwise grows a directory per pass forever). The resolved
    * [[serveRoots]] rows land on the CORRECTION side, under the
    * reserved partition `feed=__fold/batch_id=-1`, stamped with the
    * dir's max `seq` at fold time (r17 ADVICE — the fold-vs-replay
    * window): folded rows must KEEP correction rank, because a crashed
    * un-ledgered ingest batch can replay after the fold and rewrite its
    * plain partition with a recomputed root that a late pass had
    * already corrected — demoting the fold to a plain partition (the
    * pre-r18 shape) let that stale replay row serve alongside the
    * folded one. On the corr side the fold wins the per-doc anti-join;
    * a LATER correction pass stamps `seq` one higher and supersedes the
    * fold per doc, exactly as it superseded the rows the fold absorbed.
    *
    * Deletes are SCOPED to the partitions the fold actually read
    * (listed before the serve, removed after the fold lands): a
    * concurrent writer in another JVM — out of the serialization
    * contract ([[rootsLock]]), but defended anyway — never loses a
    * partition the fold didn't absorb. Crash contract: fold tmp written
    * fully (Spark's `_SUCCESS` commit marker is the completeness
    * witness) → previous fold partition dropped → tmp promoted →
    * absorbed partitions dropped. [[recoverRoots]] heals the
    * delete→promote window at every roots entry point; leftover
    * absorbed partitions after a mid-delete crash are serve-neutral
    * (their per-doc values are exactly what the fold stored — the
    * plain side anti-joins away, the corr side ties at equal value)
    * and the next compact removes them.
    *
    * Single-writer like every mutation here — and the serialization is
    * now ENFORCED by [[rootsLock]], not assumed: `compactEvery` wires
    * this into all three feeds (ingest + both late-correction steps),
    * whose foreachBatch bodies run on concurrent threads.
    */
  def compactRoots(spark: org.apache.spark.sql.SparkSession,
                   rootsPath: String, targetParts: Int = 1): Unit =
                   rootsLock(rootsPath) {
    require(targetParts >= 1, s"targetParts must be >= 1, got $targetParts")
    recoverRoots(spark, rootsPath)
    val p = new org.apache.hadoop.fs.Path(rootsPath)
    val corrP = new org.apache.hadoop.fs.Path(rootsPath + "_corr")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) && !fs.exists(corrP)) return
    // list the exact partitions this fold will absorb BEFORE reading
    val plainParts: Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
        .filter(_.getName.startsWith("batch_id="))
    val corrFeedDirs: Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(corrP)) Seq.empty
      else fs.listStatus(corrP).filter(_.isDirectory).map(_.getPath).toSeq
        .filter(_.getName.startsWith("feed="))
    val corrParts: Seq[org.apache.hadoop.fs.Path] = corrFeedDirs
      .filterNot(_.getName == s"feed=$foldFeed")
      .flatMap(f => fs.listStatus(f).filter(_.isDirectory).map(_.getPath))
    // serveRoots is an eager localCheckpoint: the emptiness probe and
    // the fold write below both read the materialized blocks — the
    // pre-r18 lazy serve executed the full resolution TWICE here (r18
    // ADVICE), once for isEmpty and once for the write
    val resolved = serveRoots(spark, rootsPath)
    if (resolved.isEmpty) {
      org.apache.spark.sql.graftbridge.Bridge
        .unpersistLocalCheckpoint(resolved)
      return
    }
    val maxSeq = readCorrRows(spark, rootsPath + "_corr")
      .agg(coalesce(max(col("seq")), lit(0L)).as("m")).head().getLong(0)
    val foldTmp = new org.apache.hadoop.fs.Path(rootsPath + "_corr.foldtmp")
    val foldDir = new org.apache.hadoop.fs.Path(corrP, s"feed=$foldFeed")
    // targetParts sizes the folded files (a 100 TB corpus's loser map is
    // itself large — one file would serialize the rewrite); the fold
    // stays ONE logical partition regardless
    resolved.withColumn("seq", lit(maxSeq))
      .repartition(targetParts)
      .write.mode("overwrite").parquet(foldTmp.toString)
    org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(resolved)
    if (fs.exists(foldDir)) fs.delete(foldDir, true)
    fs.mkdirs(foldDir)
    graft.ops.StagedSwap.rename(fs, foldTmp,
      new org.apache.hadoop.fs.Path(foldDir, "batch_id=-1"))
    plainParts.foreach(fs.delete(_, true))
    corrParts.foreach(fs.delete(_, true))
    // drop dirs the scoped deletes emptied (an empty plain dir would
    // still read fine under readRootRows' explicit schema; tidiness)
    corrFeedDirs.filterNot(_.getName == s"feed=$foldFeed")
      .filter(d => fs.exists(d) && fs.listStatus(d).isEmpty)
      .foreach(fs.delete(_, false))
    if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
  }

  /** Heal a roots view left mid-[[compactRoots]]: the only torn window
    * is between dropping the previous fold partition and promoting the
    * fold tmp — promote a COMPLETE tmp (Spark's `_SUCCESS` marker; a
    * partial tmp from a crash mid-write is deleted, never promoted —
    * the absorbed partitions still hold every row in that case) when
    * the fold partition is gone, then clear leftovers. Runs at every
    * roots entry point under [[rootsLock]]. Also heals, one-shot, a
    * view crashed mid-compact under the PRE-r18 aside/tmp layout (r18
    * ADVICE — see the inline note).
    */
  private def recoverRoots(spark: org.apache.spark.sql.SparkSession,
                           rootsPath: String): Unit = {
    val corrP = new org.apache.hadoop.fs.Path(rootsPath + "_corr")
    val fs = corrP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ---- one-shot LEGACY heal (r18 ADVICE): a view crashed mid-compact
    // under the pre-r18 layout left its live dir renamed to
    // `<roots>.aside` with the fold staged at `<roots>.tmp` — dirs the
    // current layout never writes, so without this the plain dir stayed
    // missing and the aside rows were stranded forever. A COMPLETE tmp
    // (it was written with Spark's _SUCCESS commit marker) holds the
    // full pre-crash serve: promote it to the plain dir (its
    // batch_id=-1 partition reads fine under readRootRows, exactly what
    // the old compact produced; the next new-style compact absorbs it).
    // An incomplete tmp means the old live dir is intact in the aside:
    // restore it. Whatever remains after the heal is superseded.
    val legacyTmp = new org.apache.hadoop.fs.Path(rootsPath + ".tmp")
    val legacyAside = new org.apache.hadoop.fs.Path(rootsPath + ".aside")
    if (fs.exists(legacyTmp) || fs.exists(legacyAside)) {
      val p = new org.apache.hadoop.fs.Path(rootsPath)
      val tmpComplete = fs.exists(
        new org.apache.hadoop.fs.Path(legacyTmp, "_SUCCESS"))
      if (!fs.exists(p)) {
        if (tmpComplete) graft.ops.StagedSwap.rename(fs, legacyTmp, p)
        else if (fs.exists(legacyAside))
          graft.ops.StagedSwap.rename(fs, legacyAside, p)
      }
      if (fs.exists(legacyTmp)) fs.delete(legacyTmp, true)
      if (fs.exists(legacyAside)) fs.delete(legacyAside, true)
    }
    val foldTmp = new org.apache.hadoop.fs.Path(rootsPath + "_corr.foldtmp")
    val foldDir = new org.apache.hadoop.fs.Path(corrP, s"feed=$foldFeed")
    // the promote condition is the PARTITION dir, not the feed dir: a
    // crash between the compact's mkdirs and its rename leaves the feed
    // dir present but empty, and deleting the tmp there would lose the
    // previous fold's rows (their only remaining copy) for good
    val foldPart = new org.apache.hadoop.fs.Path(foldDir, "batch_id=-1")
    if (fs.exists(foldTmp)) {
      val complete = fs.exists(
        new org.apache.hadoop.fs.Path(foldTmp, "_SUCCESS"))
      if (complete && !fs.exists(foldPart)) {
        fs.mkdirs(foldDir)
        graft.ops.StagedSwap.rename(fs, foldTmp, foldPart)
      } else fs.delete(foldTmp, true)
    }
  }

  /** The correction sibling's rows ((doc_id, root_id, seq) + the (feed,
    * batch_id) partition pair).
    */
  private def readCorrRows(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    readOrEmpty(spark, path, StructType(Seq(StructField("doc_id", LongType),
      StructField("root_id", LongType), StructField("seq", LongType),
      StructField("feed", StringType), StructField("batch_id", LongType))))

  /** A roots dir's rows ((doc_id, root_id, batch_id)). */
  private def readRootRows(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    readOrEmpty(spark, path, StructType(Seq(StructField("doc_id", LongType),
      StructField("root_id", LongType), StructField("batch_id", LongType))))

  /** The CONTINUOUS corpus build as a stream — `q_curation_incremental`'s
    * arrival loop unbounded: each micro-batch of (doc_id, text, n_chars)
    * rows runs the first-wins stage chain against the persisted digest +
    * band indexes, lands every doc's decision in `outPath` tagged with
    * the batch id, and continues the packing cursor through the
    * `_cursor` ledger (restart-safe; see [[curationStep]] for the replay
    * contract). foreachBatch's serial execution provides the indexes'
    * single-writer contract; `bench` is the static benchmark-shingle
    * frame ([[graft.ops.CurationFlow.benchShingles]] of the eval set);
    * a finite `maxBucket` routes saturated bands through the star probe
    * ([[graft.ops.CurationFlow.decide]]'s documented recall trade) — the
    * dial belongs ON the unbounded loop, where a crawl's spam storm
    * actually arrives. A `rootsPath` additionally maintains the
    * duplicate-map roots view per batch ([[maintainRoots]]).
    */
  def curationIngestStream(docs: DataFrame, indexPath: String,
                           outPath: String, checkpoint: String,
                           bench: DataFrame, budget: Long = 256L,
                           buckets: Int = 16,
                           maxBucket: Int = Int.MaxValue,
                           compactEvery: Int = 0,
                           rootsPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(curationStep(indexPath, outPath, bench, budget,
        buckets, maxBucket, compactEvery, rootsPath) _)
      .start()
}
