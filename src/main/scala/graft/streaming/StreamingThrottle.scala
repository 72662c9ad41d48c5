package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming rate limiter (§2.8 extension): the twin of the batch
  * `ts_throttle` key — admit at most [[Limit]] events per (user,
  * hour-window), by event time, drop the rest. The ingest-side guard a
  * pipeline puts in front of a hot key (runaway client, bot burst) so
  * one producer cannot flood a partition.
  *
  * Throttling is the textbook O(1)-state stream op: per open (user,
  * window) key the state is ONE counter — admitted-so-far — and each
  * admitted event is emitted exactly once with its admission rank
  * (Append semantics: emissions are final, never revised). The batch
  * twin needs a full row_number window sort to reconstruct the same
  * decision; the stream makes it as the data arrives.
  *
  * Parity contract (as StreamingDebounce): exact for arrivals respecting
  * per-key (ts, event_id) order across micro-batches; within a batch the
  * processor sorts. Production note: key state should carry a TTL of
  * window length + lateness grace so closed windows evict — the test
  * harness run keeps TTLConfig.NONE because the parity fixture replays a
  * bounded day.
  */
object StreamingThrottle {

  /** Max admitted events per (user, hour window). Must equal the batch
    * `ts_throttle` key's limit — the parity test pins this. */
  val Limit = 3L

  case class EventIn(user_id: Long, w_start: Long, ts_micros: Long, event_id: Long)

  case class ThrottleOut(event_id: Long, user_id: Long, w_start: Long, rk: Long)

  /** Streaming entry point: admitted events with their admission rank,
    * at most [[Limit]] per (user, hour window). */
  def throttle(events: Dataset[EventIn]): Dataset[ThrottleOut] = {
    import events.sparkSession.implicits._
    KeyedFold[(Long, Long), EventIn, Long, ThrottleOut](events,
        e => (e.user_id, e.w_start), OutputMode.Append(), "admitted") {
      (_, prev, rows) =>
        val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
        var n = prev.getOrElse(0L)
        val out = Vector.newBuilder[ThrottleOut]
        sorted.foreach { e =>
          if (n < Limit) {
            n += 1L
            out += ThrottleOut(e.event_id, e.user_id, e.w_start, n)
          }
        }
        (n, out.result().iterator)
    }
  }
}
