package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Holt–Winters (§2.8 extension): the incremental twin of the
  * batch `ts_holt_winters` key, running the IDENTICAL integer-lattice
  * recurrence (level/trend/24-slot seasonal table in micro-units,
  * α=β=γ=1/2 as truncating division — JVM long `/`, Spark `div`, and
  * DuckDB `//` all truncate toward zero, which matters because the
  * seasonal deltas go negative) in a `transformWithState` processor.
  * Per-series state is 27 longs FOREVER — the reason triple exponential
  * smoothing is the streaming-native seasonal forecaster: the batch key
  * folds the whole bounded hourly grid, the stream needs O(1).
  *
  * Parity contract (pinned in StreamingSpec): the recurrence is order-
  * DEPENDENT, so batch ≡ stream exactness holds for arrivals in hour
  * order across micro-batches (the watermark-disciplined feed); within
  * a micro-batch the processor sorts by hour index itself, so any
  * chunking of an ordered feed yields bit-identical state. The `vi`
  * micro-unit column is computed UPSTREAM by the same expression the
  * batch key aggregates.
  *
  * Emission: Update mode — each batch re-emits the series' current
  * (n_hours, level, trend, seasonal table); the latest emission (max
  * n_hours, strictly monotone) IS the current forecast state.
  */
object StreamingHoltWinters {

  case class HourIn(series: String, hi: Long, hr: Int, vi: Long)

  case class HwState(n: Long, l: Long, b: Long, s: Seq[Long])

  case class HwOut(series: String, n_hours: Long, level_micro: Long,
      trend_micro: Long, seasonal: Seq[Long])

  /** Streaming entry point over an hourly feed carrying the upstream-
    * computed (series, hour index, hour-of-day, micro-unit total). */
  def holtWinters(hours: Dataset[HourIn]): Dataset[HwOut] = {
    import hours.sparkSession.implicits._
    KeyedFold[String, HourIn, HwState, HwOut](hours,
        _.series, OutputMode.Update(), "hw") { (key, prev, rows) =>
      val sorted = rows.toVector.sortBy(_.hi)
      var cur = prev.orNull
      sorted.foreach { e =>
        cur =
          if (cur == null)
            HwState(1L, e.vi, 0L, Vector.fill(24)(0L))
          else {
            // the batch key's exact update, in the same operation order
            val l2 = (e.vi - cur.s(e.hr) + cur.l + cur.b) / 2L
            val b2 = (l2 - cur.l + cur.b) / 2L
            val s2 = cur.s.updated(e.hr, (e.vi - l2 + cur.s(e.hr)) / 2L)
            HwState(cur.n + 1L, l2, b2, s2)
          }
      }
      (cur, Iterator.single(HwOut(key, cur.n, cur.l, cur.b, cur.s)))
    }
  }
}
