package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** s14: streaming gap-based sessionization — the event-time-timer
  * analog of batch q56 (`queries.Extras`): per user, a session closes
  * when no event arrives within `gapMs` of its last event, and one row
  * per CLOSED session is emitted with the same (session_id, span,
  * composition) the batch operator computes.
  *
  * Two close paths, both exercised by the spec:
  *  - arrival close: a same-user event beyond the gap closes the open
  *    session inside `handleInputRows` (no timer involvement);
  *  - timer close: when the stream goes quiet, the event-time timer
  *    registered at `last_event + gapMs` fires once the WATERMARK
  *    passes it — the no-more-events proof — and flushes the session.
  *
  * session_id is a per-user running counter in state, so ids match the
  * batch operator's running-sum-of-breaks numbering when the ordering
  * contract below holds.
  *
  * Scale posture: state per user is O(1) (one open-session accumulator
  * + counter + timer), keyed state partitions by user hash, and every
  * emitted row leaves state behind — the operator's footprint is
  * (active users) × O(1), independent of stream history.
  *
  * Ordering contract (the price of O(1) state): same-USER events must
  * arrive in event-time order ACROSS batches; disorder within a batch
  * is sorted here. A same-user event that arrives out of order across
  * batches — older than the currently-open session — is merged into
  * that open session (or arrival-closes it), which can differ from
  * the batch assignment even when the global watermark would have
  * admitted the event. Exact parity under cross-batch disorder is the
  * opt-in [[SessionProcessorExact]] (buffer-until-watermark: events
  * held in ListState, every fold and close watermark-proven) at
  * O(watermark horizon) state per user; the default deliberately
  * trades that for the O(1) common case, like the reference's
  * single-reader per-stream loop.
  *
  * Requires the RocksDB state store provider (named state + timers),
  * like [[StreamingDedupTws]].
  */
object StreamingSessionize {

  /** Input surface (ts_t carries the watermark; ts_ms is its exact
    * integer twin used for all arithmetic). */
  case class SessEvent(user_id: Long, event_id: Long, ts_ms: Long,
      event_type: String, ts_t: java.sql.Timestamp)

  /** One closed session — the q56 output row. */
  case class SessionOut(user_id: Long, session_id: Long, start_ms: Long,
      end_ms: Long, n_events: Long, n_purchases: Long)

  /** The open-session accumulator. */
  case class OpenSession(start_ms: Long, end_ms: Long, n_events: Long,
      n_purchases: Long)

  /** One gap-fold step — THE session semantics, shared by both
    * processors and mirroring batch q56's lag/break chain: an event
    * beyond the gap closes the open session (via `closeFn`) and opens
    * a fresh one; within the gap it merges. A change here is the ONLY
    * place session composition can change for either processor. */
  private def foldEvent(cur: Option[OpenSession], e: SessEvent, gapMs: Long,
      closeFn: OpenSession => SessionOut):
      (Option[OpenSession], Option[SessionOut]) = {
    val p = if (e.event_type == "purchase") 1L else 0L
    cur match {
      case Some(o) if e.ts_ms - o.end_ms > gapMs =>
        (Some(OpenSession(e.ts_ms, e.ts_ms, 1L, p)), Some(closeFn(o)))
      case Some(o) =>
        (Some(OpenSession(o.start_ms, math.max(o.end_ms, e.ts_ms),
          o.n_events + 1L, o.n_purchases + p)), None)
      case None =>
        (Some(OpenSession(e.ts_ms, e.ts_ms, 1L, p)), None)
    }
  }

  /** Close with the per-user running counter in `seq` — q56's session
    * numbering, shared by both processors. */
  private def closeSession(seq: ValueState[Long], key: Long,
      o: OpenSession): SessionOut = {
    val id = (if (seq.exists()) seq.get() else 0L) + 1L
    seq.update(id)
    SessionOut(key, id, o.start_ms, o.end_ms, o.n_events, o.n_purchases)
  }

  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessEvent, SessionOut] {

    @transient private var open: ValueState[OpenSession] = _
    @transient private var seq: ValueState[Long] = _
    @transient private var timer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toVector.sortBy(e => (e.ts_ms, e.event_id))
      var out = Vector.empty[SessionOut]
      var cur = if (open.exists()) Option(open.get()) else None
      sorted.foreach { e =>
        val (c2, closed) = foldEvent(cur, e, gapMs, closeSession(seq, key, _))
        closed.foreach(out :+= _) // arrival close
        cur = c2
      }
      cur.foreach { o =>
        open.update(o)
        val expiry = o.end_ms + gapMs
        // exactly one live timer per user: replace, never accumulate
        if (timer.exists() && timer.get() != expiry)
          getHandle.deleteTimer(timer.get())
        if (!timer.exists() || timer.get() != expiry) {
          getHandle.registerTimer(expiry)
          timer.update(expiry)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      // Only the CURRENT timer closes the session; a stale fire (the
      // delete raced a downstream watermark advance) is a no-op.
      if (open.exists() && timer.exists() &&
          timer.get() == expiredTimerInfo.getExpiryTimeInMs()) {
        val o = open.get()
        open.clear()
        timer.clear()
        Iterator.single(closeSession(seq, key, o))
      } else Iterator.empty
    }
  }

  /** The EXACT-parity variant (opt-in): buffer-until-watermark. Events
    * are held in ListState until the watermark seals them; every fold
    * into a session happens in global event-time order, and every
    * close — arrival-gap or quiet-stream — is watermark-proven. This
    * closes the default operator's documented cross-batch-disorder gap
    * (ordering contract above): output equals batch q56 for ANY input
    * the watermark admits, at O(events inside the watermark horizon)
    * state per user instead of O(1).
    *
    * Drain order is globally event-time correct without cross-batch
    * bookkeeping: an event drained in an earlier batch had
    * ts ≤ wm_then, and any event admitted later must have ts > wm_then
    * (older rows are dropped by the watermark filter) — so later
    * drains can only hold later events, and sorting within each drain
    * yields a globally sorted fold.
    *
    * One live timer per user, re-armed after every step at the next
    * provable action: min(open.end + gap, earliest held event). Both
    * handler paths call the same [[advance]]; a stale fire re-derives
    * from state and is a no-op. */
  class SessionProcessorExact(gapMs: Long)
      extends StatefulProcessor[Long, SessEvent, SessionOut] {

    @transient private var open: ValueState[OpenSession] = _
    @transient private var seq: ValueState[Long] = _
    @transient private var timer: ValueState[Long] = _
    @transient private var buf: ListState[SessEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
      timer = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
      buf = getHandle.getListState[SessEvent]("buf",
        Encoders.product[SessEvent], TTLConfig.NONE)
    }

    private def advance(key: Long, wmMs: Long): Iterator[SessionOut] = {
      val (ripe, hold) = buf.get().toVector.partition(_.ts_ms <= wmMs)
      var out = Vector.empty[SessionOut]
      var cur = if (open.exists()) Option(open.get()) else None
      ripe.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
        val (c2, closed) = foldEvent(cur, e, gapMs, closeSession(seq, key, _))
        closed.foreach(out :+= _)
        cur = c2
      }
      // watermark-proven quiet close: nothing can land in
      // (end, end + gap] anymore — held events all have ts > wm
      cur match {
        case Some(o) if wmMs >= o.end_ms + gapMs =>
          out :+= closeSession(seq, key, o)
          cur = None
        case _ => ()
      }
      cur match {
        case Some(o) => open.update(o)
        case None => open.clear()
      }
      if (hold.isEmpty) buf.clear() else buf.put(hold.toArray)
      val next = (cur.map(_.end_ms + gapMs).toSeq ++ hold.map(_.ts_ms)).minOption
      val prev = if (timer.exists()) Some(timer.get()) else None
      if (prev != next) {
        prev.foreach(getHandle.deleteTimer)
        timer.clear()
        next.foreach { t => getHandle.registerTimer(t); timer.update(t) }
      }
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
        timerValues: TimerValues): Iterator[SessionOut] = {
      rows.foreach(buf.appendValue)
      advance(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      // the runtime already removed the fired timer — drop our mirror
      // so advance() doesn't re-delete it (a warn-level no-op)
      if (timer.exists() &&
          timer.get() == expiredTimerInfo.getExpiryTimeInMs()) timer.clear()
      advance(key, timerValues.getCurrentWatermarkInMs())
    }
  }

  /** Raw event frame (user_id, event_id, ts_ms, event_type) → closed
    * sessions. `watermarkDelay` is how much event-time disorder the
    * source tolerates before a session may close without an event.
    * `exact = true` selects [[SessionProcessorExact]] (batch parity
    * under cross-batch disorder, buffered state); the default is the
    * O(1)-state processor. */
  def apply(events: DataFrame, gapMs: Long, watermarkDelay: String,
      exact: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", watermarkDelay)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        if (exact) new SessionProcessorExact(gapMs)
        else new SessionProcessor(gapMs),
        TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
  }
}
