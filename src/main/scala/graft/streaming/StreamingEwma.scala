package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming EWMA (§2.8 extension): the incremental twin of the batch
  * `ts_ewma` key, running the IDENTICAL integer-lattice recurrence
  * s ← (s + v) div 2 (1e-4 micro-units, truncating division) in a
  * `transformWithState` processor — per-(user, type) state is two longs
  * (count + current s) however long the stream runs, which is exactly
  * why EWMA is the streaming-native smoother: the batch key needs the
  * whole per-key history in one array, the stream needs O(1).
  *
  * Parity contract (pinned in StreamingSpec): because EWMA is order-
  * DEPENDENT (unlike the weighted reservoir's monotone top-k fold),
  * batch ≡ stream exactness holds when arrivals respect per-key event
  * order across micro-batches — the watermark-disciplined feed; within
  * a micro-batch the processor sorts by (ts, event_id) itself, so any
  * chunking of an ordered feed yields bit-identical state. The `vi`
  * micro-unit column is computed UPSTREAM by the same expression the
  * batch query uses, so both paths fold the same integers.
  *
  * Emission: Update mode — each batch touching a key re-emits that
  * key's current (n_events, ewma_micro); the latest emission per key
  * (max n_events — the count is strictly monotone) IS the answer.
  */
object StreamingEwma {

  case class EventIn(user_id: Long, event_type: String, ts_micros: Long,
      event_id: Long, vi: Long)

  case class EwmaState(n: Long, s: Long)

  case class EwmaOut(user_id: Long, event_type: String, n_events: Long,
      ewma_micro: Long)

  /** Streaming entry point: per-(user, type) EWMA over an event stream
    * that already carries the micro-unit `vi` column. */
  def ewma(events: Dataset[EventIn]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    KeyedFold[(Long, String), EventIn, EwmaState, EwmaOut](events,
        e => (e.user_id, e.event_type), OutputMode.Update(), "ewma") {
      (key, prev, rows) =>
        val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
        var cur = prev.orNull
        sorted.foreach { e =>
          cur =
            if (cur == null) EwmaState(1L, e.vi)
            // Long `/` truncates toward zero — the same semantics as Spark
            // SQL's `div` and DuckDB's `//`; operands stay non-negative on
            // this feed either way.
            else EwmaState(cur.n + 1L, (cur.s + e.vi) / 2L)
        }
        (cur, Iterator.single(EwmaOut(key._1, key._2, cur.n, cur.s)))
    }
  }
}
