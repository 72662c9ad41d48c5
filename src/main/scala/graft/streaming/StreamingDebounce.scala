package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming debounce / rate-limit thinning (§2.8 extension): the twin of
  * the batch `ts_debounce` key — keep an event only if ≥ 10 minutes have
  * passed since the last KEPT event of the same user (the
  * throttle/suppress shape of a stream processor: retry storms,
  * double-clicks, sensor chatter collapse to one surviving row per
  * window of silence).
  *
  * Thinning is the canonical example of an op that is AWKWARD in batch
  * (whether a row survives depends on which earlier rows survived →
  * recursive fold) and TRIVIAL in a stream: per-key state is two longs
  * (last kept ts, kept count) forever. Parity contract as in
  * StreamingHolt: exact for arrivals respecting per-key (ts, event_id)
  * order across micro-batches; within a batch the processor sorts.
  * Emission: Update mode — latest emission per key (max n_events)
  * carries the final kept count.
  */
object StreamingDebounce {

  val GapUs: Long = 10L * 60 * 1000000

  case class EventIn(user_id: Long, ts_micros: Long, event_id: Long)

  case class DebounceState(lastKept: Long, nKept: Long, nEvents: Long)

  case class DebounceOut(user_id: Long, n_events: Long, n_kept: Long)

  /** Streaming entry point: per-user debounced kept counts. */
  def debounce(events: Dataset[EventIn]): Dataset[DebounceOut] = {
    import events.sparkSession.implicits._
    KeyedFold[Long, EventIn, DebounceState, DebounceOut](events,
        _.user_id, OutputMode.Update(), "deb") { (key, prev, rows) =>
      val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
      var cur = prev.orNull
      sorted.foreach { e =>
        cur =
          if (cur == null) DebounceState(e.ts_micros, 1L, 1L)
          else if (e.ts_micros >= cur.lastKept + GapUs)
            DebounceState(e.ts_micros, cur.nKept + 1L, cur.nEvents + 1L)
          else cur.copy(nEvents = cur.nEvents + 1L)
      }
      (cur, Iterator.single(DebounceOut(key, cur.nEvents, cur.nKept)))
    }
  }
}
