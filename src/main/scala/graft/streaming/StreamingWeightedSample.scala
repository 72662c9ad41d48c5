package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming weighted reservoir (§2.8 extension): the incremental twin
  * of the batch `sample_weighted` key. Efraimidis–Spirakis sampling is
  * "keep the k largest ln(u)/w keys", a monotone fold — so a streaming
  * processor that maintains the per-stratum top-k over an unbounded doc
  * stream computes EXACTLY the batch answer on the same rows, not an
  * approximation of it (pinned by the batch≡stream parity test in
  * StreamingSpec). This is the canonical shape of "maintain a training
  * subset as the corpus grows": state per stratum is k rows, however
  * large the stream gets, and re-sampling after new arrivals is free —
  * the reservoir IS the sample at every point in time.
  *
  * The es_key column is computed UPSTREAM by the same Catalyst
  * expression the batch query uses ([[graft.operators.RelationalExt.esKey]]),
  * so stream and batch rank bit-identical doubles; the processor only
  * merges and truncates.
  *
  * Emission: Update mode — each input batch that touches a stratum
  * re-emits that stratum's full current top-k tagged with a
  * monotonically increasing per-stratum `ver`, so a consumer (and the
  * parity test) selects max-`ver` rows per stratum for the current
  * sample. State: one ValueState holding ≤ k entries + the version
  * counter; no timers, no watermark dependency.
  */
object StreamingWeightedSample {

  case class DocIn(lang: String, doc_id: Long, n_chars: Long, es_key: Double)

  case class Reservoir(ver: Long, entries: Vector[DocIn])

  case class SampleOut(lang: String, ver: Long, rk: Int, doc_id: Long,
      n_chars: Long, es_key: Double)

  /** Descending es_key, doc_id tiebreak — the batch window's ordering. */
  private[streaming] def topK(k: Int, entries: Vector[DocIn]): Vector[DocIn] =
    entries.sortBy(e => (-e.es_key, e.doc_id)).take(k)

  /** Streaming entry point: per-lang weighted reservoir of size `k`.
    * Input must already carry the es_key column (use
    * [[graft.operators.RelationalExt.esKey]]). */
  def sample(docs: Dataset[DocIn], k: Int = 10): Dataset[SampleOut] = {
    import docs.sparkSession.implicits._
    KeyedFold[String, DocIn, Reservoir, SampleOut](docs,
        _.lang, OutputMode.Update(), "reservoir") { (key, prev, rows) =>
      val res = prev.getOrElse(Reservoir(0L, Vector.empty))
      val next = Reservoir(res.ver + 1, topK(k, res.entries ++ rows))
      (next, next.entries.iterator.zipWithIndex.map { case (e, i) =>
        SampleOut(key, next.ver, i + 1, e.doc_id, e.n_chars, e.es_key)
      })
    }
  }
}
