package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming bitmap DAU (§2.8 extension): the incremental twin of the
  * batch `agg_bitmap_distinct` key — EXACT distinct users per event type,
  * maintained as 4096-bit bucket bitmaps in `transformWithState` state.
  *
  * State per (event_type, user-bucket) key is one 512-byte array forever:
  * the same fixed-size OR-mergeable partial the batch key shuffles, held
  * as streaming state. Bit-set is commutative, associative and
  * IDEMPOTENT, so unlike the ewma/running-distinct twins this processor
  * needs NO ordered-feed contract: any arrival order, any chunking, and
  * even duplicated delivery (at-least-once upstream) converge to the same
  * bitmaps — the strongest parity contract on the streaming surface,
  * pinned in StreamingSpec by feeding shuffled waves with re-deliveries.
  *
  * Emission: Update mode — each batch touching a bucket re-emits its
  * current exact count; the count is monotone nondecreasing, so the
  * latest value per key is max(cnt), and the per-type DAU is the sum of
  * each bucket's latest count (buckets partition the id space).
  */
object StreamingBitmapDau {

  /** Values per bucket — matches the batch key's 4096-value buckets. */
  val BucketSpan: Long = 4096L

  case class EventIn(user_id: Long, event_type: String)

  case class Bitmap(bits: Array[Byte])

  case class DauOut(event_type: String, bucket: Long, n_users: Long)

  /** events → per-(type, bucket) exact distinct-user counts, Update mode. */
  def bitmapDau(events: Dataset[EventIn]): Dataset[DauOut] = {
    import events.sparkSession.implicits._
    KeyedFold[(String, Long), EventIn, Bitmap, DauOut](events,
        e => (e.event_type, Math.floorDiv(e.user_id, BucketSpan)),
        OutputMode.Update(), "bm") { (key, prev, rows) =>
      val bits = prev.map(_.bits).getOrElse(new Array[Byte](512))
      rows.foreach { e =>
        // floorMod keeps the fold total over the whole long domain:
        // truncating % would give negative ids a negative bit position
        // (AIOOBE) and collide ids in (-4096, 4096) into bucket 0.
        val pos = Math.floorMod(e.user_id, BucketSpan).toInt
        bits(pos >> 3) = (bits(pos >> 3) | (1 << (pos & 7))).toByte
      }
      var cnt = 0L
      var i = 0
      while (i < bits.length) {
        cnt += java.lang.Integer.bitCount(bits(i) & 0xff); i += 1
      }
      (Bitmap(bits), Iterator.single(DauOut(key._1, key._2, cnt)))
    }
  }
}
