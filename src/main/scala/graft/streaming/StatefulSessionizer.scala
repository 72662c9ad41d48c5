package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** The custom-state gap sessionizer (§2.8 `stateful_custom`): the Kafka
  * Streams Processor API with punctuators, on `transformWithState` —
  * per-user open session in a typed `ValueState`, one timer per open
  * session, sessions emitted either when a new event arrives beyond the
  * gap or when the session's timer fires.
  *
  * Semantics are pinned to `session_window` / lag+cumsum by a three-way
  * property test: new session iff `ts - prev_ts > gap` (an event exactly
  * `gap` after the last still merges); session end is `last_ts + gap`.
  *
  * One processor serves three entry points: [[sessionize]] (event-time
  * timers), [[sessionizeFromState]] (the same, seeded with open sessions
  * through `handleInitialState`) and [[sessionizeProcTime]]
  * (processing-time timers). Every entry point requires the RocksDB
  * state-store provider (a `transformWithState` constraint, not ours).
  * The state variable `"open"` and its `OpenSession` encoder are the
  * checkpoint's schema: changing either makes checkpoints unrestorable.
  */
object StatefulSessionizer {

  case class Event(event_id: Long, user_id: Long, ts: Timestamp, value: Double)

  case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  private def us(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000

  private def toTs(usVal: Long): Timestamp = {
    val t = new Timestamp(usVal / 1000)
    t.setNanos(((usVal % 1000000) * 1000).toInt)
    t
  }

  private def emit(userId: Long, s: OpenSession, gapUs: Long): SessionOut =
    SessionOut(userId, toTs(s.startUs), toTs(s.lastUs + gapUs), s.n, s.sum)

  /** The pure gap-merge fold — the single source of session semantics:
    * fold the batch's events (event-time order, id tiebreak) into the
    * open session, closing a session whenever the gap is exceeded.
    * Returns (closed sessions, the still-open tail). */
  private[streaming] def foldEvents(gapUs: Long, userId: Long,
      init: Option[OpenSession],
      events: Iterator[Event]): (Vector[SessionOut], Option[OpenSession]) = {
    val sorted = events.toIndexedSeq.sortBy(e => (us(e.ts), e.event_id))
    val closed = Vector.newBuilder[SessionOut]
    var cur = init
    sorted.foreach { e =>
      val tUs = us(e.ts)
      cur match {
        case Some(s) if tUs - s.lastUs <= gapUs =>
          cur = Some(OpenSession(s.startUs, math.max(s.lastUs, tUs), s.n + 1, s.sum + e.value))
        case Some(s) =>
          closed += emit(userId, s, gapUs)
          cur = Some(OpenSession(tUs, tUs, 1, e.value))
        case None =>
          cur = Some(OpenSession(tUs, tUs, 1, e.value))
      }
    }
    (closed.result(), cur)
  }

  /** Per-user processor: the open session in `ValueState` "open" and one
    * timer, re-armed (every listed timer deleted, then the new one
    * registered) whenever the session is written. Event time
    * (`idleMs` None): the timer is the session end, so it fires once the
    * watermark passes `last_event + gap`. Processing time: it fires
    * `idleMs` of wall clock after the key's last batch with rows. Either
    * way the firing emits the session and clears the state. */
  class GapSessionProcessor(gapUs: Long, idleMs: Option[Long])
      extends StatefulProcessorWithInitialState[Long, Event, SessionOut, OpenSession] {

    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)

    /** The session end in ms, rounded UP: a watermark (whole ms) passes
      * it exactly when it passes the end in µs, as `session_window`
      * evicts. Rounding down would emit a session up to 1 ms early. */
    private def endMs(s: OpenSession): Long = Math.floorDiv(s.lastUs + gapUs + 999, 1000L)

    private def hold(s: OpenSession, timerValues: TimerValues): Unit = {
      open.update(s)
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(idleMs.fold(endMs(s))(
        timerValues.getCurrentProcessingTimeInMs + _))
    }

    override def handleInitialState(key: Long, initialState: OpenSession,
        timerValues: TimerValues): Unit = hold(initialState, timerValues)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val (closed, cur) = foldEvents(gapUs, key,
        if (open.exists()) Some(open.get()) else None, rows)
      cur.foreach(hold(_, timerValues))
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      // An event-time timer emits only once the watermark has passed the
      // open session's end: a stale timer (session extended after arming,
      // or rounded down by a checkpoint of an older build; `hold` deletes
      // them) must not emit early, and re-arms the end instead.
      if (open.exists()) {
        val s = open.get()
        if (idleMs.isDefined || endMs(s) <= timerValues.getCurrentWatermarkInMs) {
          open.clear()
          Iterator.single(emit(key, s, gapUs))
        } else {
          getHandle.registerTimer(endMs(s))
          Iterator.empty
        }
      } else Iterator.empty
    }
  }

  /** Streaming entry point (Append mode, event-time timers). */
  def sessionize(events: Dataset[Event], gapUs: Long = 30L * 60 * 1000000,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new GapSessionProcessor(gapUs, None),
        TimeMode.EventTime, OutputMode.Append)
  }

  /** Entry point with bootstrap state (the KS "restore state from a
    * table" analog): open sessions precomputed offline — e.g. by the
    * batch sessionizer over history — seed the stateful operator, so a
    * migration to streaming continues half-open sessions instead of
    * splitting them at the cutover point. */
  def sessionizeFromState(events: Dataset[Event],
      initial: Dataset[(Long, OpenSession)],
      gapUs: Long = 30L * 60 * 1000000,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[SessionOut]
    val initKV = initial.groupByKey(_._1)(Encoders.scalaLong)
      .mapValues(_._2)(stateEnc)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new GapSessionProcessor(gapUs, None),
        TimeMode.EventTime, OutputMode.Append, initKV)
  }

  /** Streaming entry point, processing-time flavor (KS WALL_CLOCK_TIME
    * punctuate analog): sessions close on the event-time gap as usual,
    * and an open session also emits after `idleMs` of wall-clock silence
    * for its key. No watermark required — a stalled source cannot hold
    * its last session open forever. A session emitted on idle still
    * closes at `last_event + gap` in event time. */
  def sessionizeProcTime(events: Dataset[Event],
      gapUs: Long = 30L * 60 * 1000000, idleMs: Long = 1000L): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new GapSessionProcessor(gapUs, Some(idleMs)),
        TimeMode.ProcessingTime, OutputMode.Append)
  }
}
