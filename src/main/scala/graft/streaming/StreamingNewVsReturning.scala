package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming new-vs-returning classifier (§2.8 extension): the
  * incremental twin of the batch `ts_new_vs_returning` key — every
  * (user, day) activity cell is emitted exactly once, flagged `is_new`
  * on the user's first-ever active day; the daily
  * new/returning/active counts are then a trivial rollup of the sink
  * (the same rollup the batch key performs over its first-seen window).
  *
  * State per user is TWO LONGS — first active day + last emitted day —
  * NOT a seen-day set: under the ordered-feed contract (arrivals
  * respect per-key event order across micro-batches, the
  * StreamingRunningDistinct rule) a user's days are non-decreasing, so
  * "day > last emitted" is exactly "first event of a new active day".
  * Within a micro-batch rows are sorted by (ts, event_id) first, so any
  * chunking of an ordered feed emits identical rows. Emission is
  * Append — a cell's row is final the moment the first event of that
  * (user, day) is processed.
  */
object StreamingNewVsReturning {

  case class EventIn(user_id: Long, day: Long, ts_micros: Long,
      event_id: Long)

  case class FirstSeen(first_day: Long, last_day: Long)

  case class DayCell(user_id: Long, day: Long, is_new: Boolean)

  /** Streaming entry point: one row per (user, active day), flagged
    * new/returning — `ts_new_vs_returning`'s per-day counts are
    * `sink.groupBy(day).agg(...)`. */
  def newVsReturning(events: Dataset[EventIn]): Dataset[DayCell] = {
    import events.sparkSession.implicits._
    KeyedFold[Long, EventIn, FirstSeen, DayCell](events,
        _.user_id, OutputMode.Append(), "first_seen") { (key, prev, rows) =>
      val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
      var state = prev.orNull
      val out = Vector.newBuilder[DayCell]
      sorted.foreach { e =>
        if (state == null) {
          state = FirstSeen(e.day, e.day)
          out += DayCell(key, e.day, is_new = true)
        } else if (e.day > state.last_day) {
          state = FirstSeen(state.first_day, e.day)
          out += DayCell(key, e.day, is_new = false)
        }
      }
      (state, out.result().iterator)
    }
  }
}
