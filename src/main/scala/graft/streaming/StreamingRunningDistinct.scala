package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming running-distinct (§2.8 extension): the incremental twin of
  * the batch `win_running_distinct` key — per-user count of distinct
  * event types seen so far, emitted PER EVENT in Append mode, i.e. the
  * exact rows the batch first-occurrence-flag window produces.
  *
  * State per user is the seen-type set plus nothing else: bounded by the
  * event-type VOCABULARY (a small closed set), not by stream length —
  * the same bounded-state contract as the other processors (an unbounded
  * value domain would swap the set for a sketch; the count would then be
  * approximate, which is `agg_approx_distinct`'s territory, not this
  * key's).
  *
  * Parity contract (pinned in StreamingSpec): the running count is
  * order-DEPENDENT per key, so batch ≡ stream exactness holds under the
  * ordered-feed contract (arrivals respect per-key event order across
  * micro-batches); within a micro-batch the processor sorts by
  * (ts, event_id) itself, so any chunking of an ordered feed emits
  * identical rows. Emission is Append — each event's row is final the
  * moment it is processed (the count at that event never changes), so no
  * re-emission or latest-wins fold is needed downstream.
  */
object StreamingRunningDistinct {

  case class EventIn(user_id: Long, event_type: String, ts_micros: Long,
      event_id: Long)

  case class SeenTypes(types: Seq[String])

  case class DistinctOut(event_id: Long, user_id: Long,
      n_distinct_types: Long)

  /** Streaming entry point: per-user running distinct-type count over an
    * event stream, one output row per input event. */
  def runningDistinct(events: Dataset[EventIn]): Dataset[DistinctOut] = {
    import events.sparkSession.implicits._
    KeyedFold[Long, EventIn, SeenTypes, DistinctOut](events,
        _.user_id, OutputMode.Append(), "seen") { (key, prev, rows) =>
      val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
      // first-seen order preserved; membership scans a ≤|vocabulary| seq
      var seen = prev.map(_.types.toVector).getOrElse(Vector.empty[String])
      val out = sorted.map { e =>
        if (!seen.contains(e.event_type)) seen = seen :+ e.event_type
        DistinctOut(e.event_id, key, seen.size.toLong)
      }
      (SeenTypes(seen), out.iterator)
    }
  }
}
