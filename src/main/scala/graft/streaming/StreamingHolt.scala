package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Holt smoother (§2.8 extension): the incremental twin of the
  * batch `ts_holt` key, running the IDENTICAL integer-lattice recurrence
  *   ℓ ← (v + ℓ + b) div 2 ;  b ← (ℓ_new − ℓ_old + b) div 2
  * (1e-4 micro-units, truncating division) in a `transformWithState`
  * processor. Per-(user, type) state is three longs (count, level,
  * trend) however long the stream runs — like EWMA, double exponential
  * smoothing is streaming-native: the batch key folds the whole per-key
  * history, the stream needs O(1).
  *
  * Parity contract (pinned in StreamingSpec): the fold is order-
  * dependent, so batch ≡ stream exactness holds for arrivals respecting
  * per-key event order across micro-batches; within a micro-batch the
  * processor sorts by (ts, event_id), so any chunking of an ordered
  * feed is bit-identical. The trend can go NEGATIVE — Long `/`
  * truncates toward zero, exactly Spark SQL `div` and DuckDB `//`
  * (probed: −7 → −3 in all three), so no floor/trunc divergence enters.
  *
  * Emission: Update mode — latest emission per key (max n_events) IS
  * the answer, as in [[StreamingEwma]].
  */
object StreamingHolt {

  case class EventIn(user_id: Long, event_type: String, ts_micros: Long,
      event_id: Long, vi: Long)

  case class HoltState(n: Long, l: Long, b: Long)

  case class HoltOut(user_id: Long, event_type: String, n_events: Long,
      level_micro: Long, trend_micro: Long, forecast_micro: Long)

  /** Streaming entry point: per-(user, type) Holt level+trend over an
    * event stream that already carries the micro-unit `vi` column. */
  def holt(events: Dataset[EventIn]): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    KeyedFold[(Long, String), EventIn, HoltState, HoltOut](events,
        e => (e.user_id, e.event_type), OutputMode.Update(), "holt") {
      (key, prev, rows) =>
        val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
        var cur = prev.orNull
        sorted.foreach { e =>
          cur =
            if (cur == null) HoltState(1L, e.vi, 0L)
            else {
              val l2 = (e.vi + cur.l + cur.b) / 2L
              HoltState(cur.n + 1L, l2, (l2 - cur.l + cur.b) / 2L)
            }
        }
        (cur, Iterator.single(HoltOut(key._1, key._2, cur.n, cur.l, cur.b,
          cur.l + cur.b)))
    }
  }
}
