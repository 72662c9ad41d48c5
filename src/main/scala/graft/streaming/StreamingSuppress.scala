package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Rate-limited Update emission (§2.8 extension) — the Kafka-Streams
  * `suppress(Suppressed.untilTimeLimit(limit, BufferConfig))` analog,
  * the last KS DSL member without a named Spark twin (round-11 verdict
  * advisory #1). The covered `untilWindowCloses` twin is Append-mode
  * windowed aggregation; THIS operator is the other suppression: a
  * per-key KTable changelog whose updates are buffered and released at
  * most once per `limit` of stream time, always carrying the LATEST
  * value at release.
  *
  * Semantics (KS contract, per key):
  *   - the key's first update after an empty buffer enters the buffer
  *     stamped with its event time T and is held until stream time
  *     passes T + limit;
  *   - updates arriving while buffered REPLACE the buffered value (the
  *     changelog collapses — that is the point of suppression);
  *   - at T + limit the buffered (latest) value emits and the buffer
  *     empties; the next update starts a new hold window.
  *   So per key, consecutive emissions are ≥ limit apart in event time,
  *   every emission is the latest prefix state at its release time, and
  *   no final state is ever lost — the tail flush rides an event-time
  *   TIMER that fires when the watermark passes the hold deadline.
  *
  * The KTable here is the running per-user (event count, value sum) —
  * the same changelog the unsuppressed `stream_running_distinct` family
  * models; the parity pin (StreamingSpec) replays the same feed through
  * a plain-Scala reference of the rule above and also checks final-state
  * equality against the batch aggregate.
  *
  * Determinism: releases are stamped `bufferedAtUs + limit` (event
  * time), never wall clock — in-batch releases (stream time advances as
  * later rows of the same batch fold) and timer releases produce
  * IDENTICAL rows, so output is bit-stable across chunkings and
  * restarts. Parity contract as StreamingThrottle: exact for arrivals
  * respecting per-key (ts, event_id) order across micro-batches; within
  * a batch the processor sorts.
  *
  * Late data (cross-batch disorder, round-13 stress in StreamingSpec):
  * a late event still at-or-above the watermark FOLDS into the open
  * hold — the anchor (and release stamp) never moves, even when the
  * event is older than the anchor itself; an event below the watermark
  * is dropped by the engine before the processor (standard watermark
  * loss), so no hold can anchor in the past. Consequently the ≥ limit
  * release spacing holds UNCONDITIONALLY: after a timer release the
  * watermark has already passed the stamp (any accepted event anchors
  * at or after it), and an in-stream release immediately re-buffers the
  * releasing event (anchor ≥ stamp). Timer deadlines register at the
  * CEILING millisecond of the µs deadline, so a flush never fires
  * early when ts/limit are not ms-aligned.
  *
  * Scale: O(1) state per key (one aggregate + one pending buffer + one
  * timer) — the suppression buffer is per-KEY, not per-update, exactly
  * the spill-proof shape KS's `BufferConfig.maxRecords(1)`-per-key
  * eviction would want. State is keyed-partitioned; no shuffle beyond
  * the groupByKey exchange every keyed processor pays.
  */
object StreamingSuppress {

  case class EventIn(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      value_micro: Long)

  /** The running KTable row (count, micro-lattice value sum). */
  case class Agg(n: Long, sumMicro: Long)

  /** The suppression buffer: latest value + the hold-window anchor. */
  case class Pending(n: Long, sumMicro: Long, bufferedAtUs: Long)

  /** One released update: the latest aggregate at release time.
    * `released_at_us` = bufferedAtUs + limit — event time, deterministic. */
  case class SuppressOut(user_id: Long, n_events: Long, sum_micro: Long,
      released_at_us: Long)

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Timer deadline in ms for a µs event-time deadline — rounded UP, so
    * the watermark-driven tail flush never fires before the true
    * event-time deadline when ts/limit are not ms-aligned (timers are ms
    * granular; flooring could release up to 999 µs early). Output stamps
    * stay the exact µs deadline either way. */
  private def timerMs(deadlineUs: Long): Long = (deadlineUs + 999L) / 1000L

  class SuppressProcessor(limitUs: Long)
      extends StatefulProcessor[Long, EventIn, SuppressOut] {

    @transient private var agg: ValueState[Agg] = _
    @transient private var pending: ValueState[Pending] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[Agg]("agg",
        Encoders.product[Agg], TTLConfig.NONE)
      pending = getHandle.getValueState[Pending]("pending",
        Encoders.product[Pending], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[SuppressOut] = {
      val sorted = rows.toVector.sortBy(e => (micros(e.ts), e.event_id))
      var a = if (agg.exists()) agg.get() else Agg(0L, 0L)
      var p = if (pending.exists()) Some(pending.get()) else None
      val out = Vector.newBuilder[SuppressOut]
      sorted.foreach { e =>
        val tUs = micros(e.ts)
        // stream time reached the hold deadline before this update:
        // release the buffered value first (KS releases on stream-time
        // advance, which within a batch is the next record's timestamp)
        p.filter(q => tUs >= q.bufferedAtUs + limitUs).foreach { q =>
          out += SuppressOut(key, q.n, q.sumMicro, q.bufferedAtUs + limitUs)
          getHandle.deleteTimer(timerMs(q.bufferedAtUs + limitUs))
          p = None
        }
        a = Agg(a.n + 1L, a.sumMicro + e.value_micro)
        p match {
          case Some(q) => p = Some(Pending(a.n, a.sumMicro, q.bufferedAtUs))
          case None =>
            p = Some(Pending(a.n, a.sumMicro, tUs))
            getHandle.registerTimer(timerMs(tUs + limitUs))
        }
      }
      agg.update(a)
      p match { case Some(q) => pending.update(q); case None => pending.clear() }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SuppressOut] = {
      // authoritative only if the live buffer's deadline matches — a
      // buffer already released in-batch cleared its timer, but stay
      // defensive (the StatefulSessionizer stale-timer rule)
      if (pending.exists()) {
        val q = pending.get()
        if (timerMs(q.bufferedAtUs + limitUs) <= expiredTimerInfo.getExpiryTimeInMs) {
          pending.clear()
          Iterator.single(
            SuppressOut(key, q.n, q.sumMicro, q.bufferedAtUs + limitUs))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** Streaming entry point: per-user running-aggregate updates released
    * at most once per `limitUs` of event time (Update semantics — later
    * releases supersede earlier ones), tail-flushed by event-time timer
    * when the watermark passes the last hold deadline. */
  def suppress(events: Dataset[EventIn], limitUs: Long,
      watermark: String = "10 minutes"): Dataset[SuppressOut] = {
    implicit val outEnc = Encoders.product[SuppressOut]
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SuppressProcessor(limitUs),
        TimeMode.EventTime, OutputMode.Update)
  }
}
