package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming group-sequential monitor (§2.8 extension): the
  * continuous-monitoring twin of the batch `agg_group_sequential_obf`
  * key — which is the one A/B operator whose whole POINT is being read
  * while data is still arriving. State per variant is the 4-look
  * integer-lattice moment table (12 longs, O(1) forever); each
  * micro-batch folds its events' micro-unit values (v6 = value on the
  * DECIMAL(18,6) lattice ×1e6, vv6 likewise for value² — both computed
  * UPSTREAM by the same cast expressions the batch key aggregates, so
  * both paths sum the same integers) and re-emits the cumulative
  * moments for every populated look.
  *
  * Parity contract (pinned in StreamingSpec): the fold is pure integer
  * ADDITION, so unlike the EWMA/Holt recurrences it is order-free —
  * ANY chunking of ANY arrival order yields bit-identical state. The
  * released z/boundary/crossed rows come from feeding these moments
  * through the batch key's own release tail
  * ([[graft.operators.AnalyticsExt.obfRelease]]); long→double /1e6 is
  * one exact conversion + one correctly-rounded division, the same
  * double the batch's DECIMAL→double cast produces.
  *
  * Emission: Update mode — latest emission per (variant, look) (max n;
  * the count is strictly monotone) is the current monitor readout.
  *
  * EXACTNESS BOUND: the "long→double /1e6 equals the batch DECIMAL→double
  * cast" claim holds while every cumulative moment stays ≤ 2^53 (the
  * double-exact integer range); past that the streaming path would
  * double-round where the batch decimal cast rounds once. The dominant
  * moment is Σ value²·1e6 ≈ n·E[v²]·1e6, so the bound allows ~9·10^9
  * events of |value| ≤ 1000 per variant — far past any monitored
  * experiment, but NOT unbounded on a long-running stream, and the same
  * sum overflows Long itself at ~9.2·10^18. Every emission therefore
  * asserts the cumulative moments are within [[MomentExactCeiling]],
  * failing the query rather than silently emitting a double-rounded
  * (or wrapped) readout.
  */
object StreamingSeqMonitor {

  /** 2^53 — ceiling on every cumulative lattice moment, above which the
    * long→double conversion in the release tail stops being exact (and
    * the batch-parity contract void). Enforced per fold. */
  val MomentExactCeiling: Long = 1L << 53

  case class EventIn(variant: String, look: Int, v6: Long, vv6: Long)

  /** Per-look lattice moments for looks 1..4, flattened for the
    * ValueState encoder. */
  case class MomState(
      n1: Long, sx1: Long, sxx1: Long,
      n2: Long, sx2: Long, sxx2: Long,
      n3: Long, sx3: Long, sxx3: Long,
      n4: Long, sx4: Long, sxx4: Long)

  case class MomOut(variant: String, look: Int,
      n: Long, sx6: Long, sxx6: Long)

  private val Zero = MomState(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Streaming entry point over an event stream carrying the upstream-
    * computed (variant, look, v6, vv6) columns. */
  def monitor(events: Dataset[EventIn]): Dataset[MomOut] = {
    import events.sparkSession.implicits._
    KeyedFold[String, EventIn, MomState, MomOut](events,
        _.variant, OutputMode.Update(), "obf_moments") { (key, prev, rows) =>
      var s = prev.getOrElse(Zero)
      rows.foreach { e =>
        s = e.look match {
          case 1 => s.copy(n1 = s.n1 + 1, sx1 = s.sx1 + e.v6,
            sxx1 = s.sxx1 + e.vv6)
          case 2 => s.copy(n2 = s.n2 + 1, sx2 = s.sx2 + e.v6,
            sxx2 = s.sxx2 + e.vv6)
          case 3 => s.copy(n3 = s.n3 + 1, sx3 = s.sx3 + e.v6,
            sxx3 = s.sxx3 + e.vv6)
          case 4 => s.copy(n4 = s.n4 + 1, sx4 = s.sx4 + e.v6,
            sxx4 = s.sxx4 + e.vv6)
          case _ => s // beyond the fixed look horizon: not monitored
        }
      }
      val looks = Seq(
        (1, s.n1, s.sx1, s.sxx1), (2, s.n2, s.sx2, s.sxx2),
        (3, s.n3, s.sx3, s.sxx3), (4, s.n4, s.sx4, s.sxx4))
      var (cn, cx, cxx) = (0L, 0L, 0L)
      val out = looks.map { case (k, n, sx, sxx) =>
        cn += n; cx += sx; cxx += sxx
        // Exactness guard: every released cumulative moment must stay in
        // the double-exact integer range, or the batch-parity contract
        // (and before long-overflow, correctness itself) is void. Fails
        // the query loudly instead of emitting a double-rounded readout.
        require(cn <= MomentExactCeiling && math.abs(cx) <= MomentExactCeiling
            && math.abs(cxx) <= MomentExactCeiling,
          s"seq-monitor moment past 2^53 for variant=$key look=$k " +
            s"(n=$cn sx=$cx sxx=$cxx): long->double is no longer exact; " +
            "widen state or reset the experiment window")
        MomOut(key, k, cn, cx, cxx)
      }.filter(_.n > 0)
      (s, out.iterator)
    }
  }
}
