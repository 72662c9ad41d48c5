package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.util.sketch.CountMinSketch

/** Streaming Count–Min sketch (§2.8 extension): the incremental twin of
  * the batch `agg_count_min` key — per event type, a bounded-size
  * frequency sketch over user ids, maintained in `transformWithState`.
  *
  * Why CMS is the streaming-native frequency sketch: it is a LINEAR
  * sketch (the counter table of a union is the elementwise SUM of the
  * tables), so sequential `add` and the batch aggregate's partial-merge
  * tree produce the IDENTICAL table whenever each event is delivered
  * exactly once — any arrival order, any chunking. The parity pin is
  * therefore the strongest possible: the streaming state's SERIALIZED
  * BYTES equal the batch `count_min_sketch(user_id, eps, conf, seed)`
  * aggregate's bytes, not just the estimates (StreamingSpec). Unlike
  * the bitmap-DAU twin the state is NOT idempotent — re-delivery
  * inflates counts — so the feed contract is exactly-once, which
  * Structured Streaming's checkpointed MemoryStream batches provide.
  *
  * State per event type is one fixed ~11 KB byte array forever (width
  * ⌈2/eps⌉ = 200 × depth ⌈ln(1/(1−conf))⌉ ≈ 5 longs + header): the
  * 100 TB story is O(types) state regardless of user cardinality —
  * the same reason the batch key ships the sketch, not the groupBy.
  */
object StreamingCountMin {

  /** Sketch parameters — shared by the streaming processor and the
    * batch parity aggregate. Seed fixed so both sides hash alike. */
  val Eps: Double = 0.01
  val Confidence: Double = 0.99
  val Seed: Int = 42

  case class EventIn(user_id: Long, event_type: String)

  case class SketchState(bytes: Array[Byte])

  case class SketchOut(event_type: String, n_added: Long,
      bytes: Array[Byte])

  /** events → per-type CMS state, Update mode (each batch re-emits the
    * type's current sketch; latest per type = the running sketch). */
  def countMin(events: Dataset[EventIn]): Dataset[SketchOut] = {
    import events.sparkSession.implicits._
    KeyedFold[String, EventIn, SketchState, SketchOut](events,
        _.event_type, OutputMode.Update(), "cms") { (key, prev, rows) =>
      val cms = prev.map(p => CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(p.bytes)))
        .getOrElse(CountMinSketch.create(Eps, Confidence, Seed))
      rows.foreach(e => cms.addLong(e.user_id))
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      val bytes = bos.toByteArray
      (SketchState(bytes), Iterator.single(SketchOut(key, cms.totalCount(), bytes)))
    }
  }
}
