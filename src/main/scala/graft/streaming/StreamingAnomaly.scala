package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming 3σ anomaly detection (§2.8 extension): the incremental twin
  * of the batch `ts_anomaly_sigma` key. The batch op's state per row is
  * its trailing ≤20-event window; the streaming form keeps exactly that
  * — a bounded ring of the last 20 micro-unit values per (user, type) —
  * and replays the IDENTICAL division-free integer predicate
  * (v·n − Σx)² > 9·(n·Σx² − (Σx)²) against it before appending the new
  * value. State is ≤20 longs + the ring regardless of stream length.
  *
  * Parity contract (pinned in StreamingSpec): same as the EWMA twin —
  * the predicate is trailing-window ORDER-dependent, so batch ≡ stream
  * exactness holds for per-key event-ordered feeds (any chunking; the
  * processor sorts within a micro-batch). Emission: Append mode — each
  * flagged event emits once, when processed.
  */
object StreamingAnomaly {

  /** Baseline length and minimum-population gate — the batch key's
    * rowsBetween(-20, -1) frame and cnt ≥ 10 filter. */
  val WindowLen = 20
  val MinBaseline = 10

  case class EventIn(user_id: Long, event_type: String, ts_micros: Long,
      event_id: Long, value: Double, vi: Long)

  case class Ring(vals: Vector[Long])

  case class AnomalyOut(event_id: Long, user_id: Long, event_type: String,
      value: Double)

  /** The batch predicate, verbatim: flagged iff the trailing baseline
    * has ≥ MinBaseline members and (v·n − Σx)² > 9(n·Σx² − (Σx)²). */
  private[streaming] def flagged(baseline: Vector[Long], vi: Long): Boolean = {
    val n = baseline.size.toLong
    if (n < MinBaseline) false
    else {
      val sx = baseline.sum
      val sxx = baseline.map(v => v * v).sum
      val d = vi * n - sx
      d * d > 9L * (n * sxx - sx * sx)
    }
  }

  /** Streaming entry point over an event stream carrying the micro-unit
    * `vi` column (same upstream expression as the batch key). */
  def detect(events: Dataset[EventIn]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    KeyedFold[(Long, String), EventIn, Ring, AnomalyOut](events,
        e => (e.user_id, e.event_type), OutputMode.Append(), "ring") {
      (_, prev, rows) =>
        var vals = prev.map(_.vals).getOrElse(Vector.empty[Long])
        val out = Vector.newBuilder[AnomalyOut]
        rows.toVector.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          if (flagged(vals, e.vi))
            out += AnomalyOut(e.event_id, e.user_id, e.event_type, e.value)
          vals = (vals :+ e.vi).takeRight(WindowLen)
        }
        (Ring(vals), out.result().iterator)
    }
  }
}
