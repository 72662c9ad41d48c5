package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming event-time disorder monitor (§2.8 extension): the twin of
  * the batch `ts_out_of_order_stats` key — classify each event's lag
  * behind its user's event-time high-water mark, AS IT ARRIVES. This is
  * the live form of the watermark-sizing measurement: run it beside a
  * production ingest for a day and the bucket counts tell you exactly
  * what a 1-minute / 10-minute / 1-hour watermark would have dropped.
  *
  * Per-key state is ONE long (the running event-time HWM) — the same
  * O(1)-state discipline as StreamingDebounce/StreamingThrottle. Each
  * event emits exactly once with its lateness bucket (Append semantics);
  * the report is a trivial downstream count by bucket.
  *
  * Parity contract (as StreamingDebounce): exact for arrivals respecting
  * per-key event_id order across micro-batches; within a batch the
  * processor sorts by event_id (arrival sequence).
  */
object StreamingLateness {

  case class EventIn(user_id: Long, event_id: Long, us: Long)

  case class LatenessOut(event_id: Long, user_id: Long, bucket: String, late_us: Long)

  /** Must mirror the batch key's bucket rule exactly — parity-pinned. */
  def bucketOf(lateUs: Long): String =
    if (lateUs == 0L) "a_on_time"
    else if (lateUs <= 60L * 1000000) "b_within_1m"
    else if (lateUs <= 600L * 1000000) "c_within_10m"
    else if (lateUs <= 3600L * 1000000) "d_within_1h"
    else "e_over_1h"

  /** Streaming entry point: one classified emission per event. */
  def lateness(events: Dataset[EventIn]): Dataset[LatenessOut] = {
    import events.sparkSession.implicits._
    KeyedFold[Long, EventIn, Long, LatenessOut](events,
        _.user_id, OutputMode.Append(), "hwm") { (_, prev, rows) =>
      val sorted = rows.toVector.sortBy(_.event_id)
      var h = prev.getOrElse(Long.MinValue)
      val out = sorted.map { e =>
        h = math.max(h, e.us)
        LatenessOut(e.event_id, e.user_id, bucketOf(h - e.us), h - e.us)
      }
      (h, out.iterator)
    }
  }
}
