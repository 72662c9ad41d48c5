package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming EVENT-ALIGNED trailing window (§2.8 extension) — the analog
  * of Kafka Streams' `SlidingWindows` (KIP-450, Kafka 2.7/3.0): each
  * event gets an aggregate over the window [ts − Δ, ts] ENDING AT ITS
  * OWN event time, not at a grid boundary — where tumbling/hopping
  * windows quantize ("how much in the 14:00–15:00 bucket"), the sliding
  * window answers the per-event question ("how much in the hour ending
  * NOW"), which is the rate-limit / fraud-velocity / rolling-exposure
  * readout. This is the streaming twin of the batch `win_range_frame`
  * key (a RANGE frame of [-Δ, 0] over event time per user) — the parity
  * test pins the two to the same rows.
  *
  * Per-key state is the event buffer of the LAST Δ of event time only:
  * after a micro-batch, entries older than (key HWM − Δ) can no longer
  * enter any future event's trailing window (ordered-arrival contract,
  * below) and are evicted — the same bounded-by-Δ state contract as the
  * sessionizers, however long the stream runs.
  *
  * Parity contract (as StreamingEwma): exact when each key's arrivals
  * respect event-time order across micro-batches (the watermark-
  * disciplined feed); within a micro-batch the processor inserts ALL
  * rows before scoring any (so same-batch, same-window events see each
  * other regardless of arrival interleaving), then emits one row per
  * event. The `vi` micro-unit column is computed UPSTREAM by the same
  * decimal cast the batch query uses, the trailing sum folds exact
  * longs, and the released double divides the exact micro total by 1e6
  * — one correctly-rounded IEEE op, bit-identical to the batch key's
  * DECIMAL-sum→double cast.
  */
object StreamingSlidingWindow {

  case class EventIn(user_id: Long, event_id: Long, us: Long, vi: Long)

  case class SlideEntry(us: Long, vi: Long)

  case class SlideBuf(entries: Seq[SlideEntry], hwm: Long)

  case class SlideOut(event_id: Long, user_id: Long, sum_win: Double)

  /** Streaming entry point: one trailing-window emission per event.
    * `windowUs` is the Δ of [ts − Δ, ts] in event-time microseconds. */
  def slidingSum(events: Dataset[EventIn], windowUs: Long): Dataset[SlideOut] = {
    import events.sparkSession.implicits._
    KeyedFold[Long, EventIn, SlideBuf, SlideOut](events,
        _.user_id, OutputMode.Append(), "buf") { (key, prev, rows) =>
      val batch = rows.toVector.sortBy(e => (e.us, e.event_id))
      val buf = prev.getOrElse(SlideBuf(Vector.empty, Long.MinValue))
      // insert ALL batch rows first: a RANGE frame includes its event-time
      // peers, so two same-window events in one micro-batch must see each
      // other whichever arrived "first"
      val entries = (buf.entries ++ batch.map(e => SlideEntry(e.us, e.vi)))
        .sortBy(_.us).toVector
      // each event's [us − Δ, us] sum is a difference of prefix sums over
      // the time-sorted entries; the batch is time-sorted too, so both
      // bounds only move forward — linear in entries + batch rows. Long
      // wrap-around cancels in the difference, so window sums stay exact.
      val prefix = entries.scanLeft(0L)(_ + _.vi)
      var lo = 0
      var hi = 0
      val out = batch.map { e =>
        while (lo < entries.size && entries(lo).us < e.us - windowUs) lo += 1
        while (hi < entries.size && entries(hi).us <= e.us) hi += 1
        SlideOut(e.event_id, key, (prefix(hi) - prefix(lo)) / 1e6)
      }
      // evict: entries at us < hwm − Δ can never re-enter a trailing
      // window under the ordered-arrival contract
      val hwm = math.max(buf.hwm, batch.map(_.us).max)
      (SlideBuf(entries.filter(_.us >= hwm - windowUs), hwm), out.iterator)
    }
  }
}
