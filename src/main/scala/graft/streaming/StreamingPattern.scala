package graft.streaming

import graft.operators.{Cep, CepTemplate}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming sequence-pattern detector (§2.8 extension): the CEP twin of
  * the batch `ts_pattern_detect` / `ts_pattern_template` keys — count,
  * per user, the strictly-consecutive matches of a [[CepTemplate]]
  * completing within its window. The template object is SHARED with the
  * batch formulation ([[Cep.detectBatch]]), so the two modes detect the
  * same patterns by construction.
  *
  * The batch key reads the pattern off `steps.length − 1` lead windows;
  * the stream needs only the last `steps.length − 1` events per user —
  * pattern matching against a fixed-length regex-like template is
  * streaming-native with O(template) state (k (type, ts) slots + two
  * counters), however long the stream runs. This is the
  * Kafka-Streams/Flink-CEP shape: a tiny DFA per key advanced by each
  * arrival.
  *
  * Parity contract (pinned in StreamingSpec, on BOTH shipped templates):
  * adjacency is order-defined, so batch ≡ stream exactness holds for
  * arrivals respecting per-key (ts, event_id) order across
  * micro-batches; within a micro-batch the processor sorts, so any
  * chunking of an ordered feed is exact. Emission: Update mode — latest
  * emission per key (max n_events) carries the final pattern count.
  */
object StreamingPattern {

  case class EventIn(user_id: Long, event_type: String, ts_micros: Long,
      event_id: Long)

  /** Last k = steps.length − 1 events, oldest first (padded with "" /
    * 0 slots until k arrivals have been seen), plus counters. */
  case class PatState(types: Seq[String], tss: Seq[Long],
      nEvents: Long, nPatterns: Long)

  case class PatOut(user_id: Long, n_events: Long, n_patterns: Long)

  /** Streaming entry point: per-user consecutive-pattern counts for the
    * given template (default: the classic purchase-funnel triple). */
  def patterns(events: Dataset[EventIn],
      tpl: CepTemplate = Cep.ViewClickPurchase): Dataset[PatOut] = {
    import events.sparkSession.implicits._
    val k = tpl.steps.length - 1
    KeyedFold[Long, EventIn, PatState, PatOut](events,
        _.user_id, OutputMode.Update(), "pat") { (key, prev, rows) =>
      val sorted = rows.toVector.sortBy(e => (e.ts_micros, e.event_id))
      var cur = prev.getOrElse(
        PatState(Vector.fill(k)(""), Vector.fill(k)(0L), 0L, 0L))
      sorted.foreach { e =>
        // slots hold the k previous events oldest→newest; a hit needs
        // them to spell steps.init, the arrival to be steps.last, and
        // the whole run to fit in the window measured from the OLDEST
        // slot (= the template's first step) — "" pads never match.
        val hit = cur.types.zip(tpl.steps.init).forall { case (a, b) => a == b } &&
          e.event_type == tpl.steps.last &&
          e.ts_micros - cur.tss.head <= tpl.windowMicros
        cur = PatState(
          cur.types.drop(1) :+ e.event_type,
          cur.tss.drop(1) :+ e.ts_micros,
          cur.nEvents + 1L,
          cur.nPatterns + (if (hit) 1L else 0L))
      }
      (cur, Iterator.single(PatOut(key, cur.nEvents, cur.nPatterns)))
    }
  }
}
