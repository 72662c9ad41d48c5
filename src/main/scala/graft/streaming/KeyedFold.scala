package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming._

/** Per-key state as a fold over each micro-batch — the `updateStateByKey`
  * primitive of Discretized Streams on `transformWithState`. One
  * `ValueState[S]` named `stateName` (no TTL, no timers): `step` gets the
  * key, the stored value (None before the key's first batch) and the
  * batch's rows, and returns the value to store plus the rows to emit.
  *
  * Invariant the steps rely on: `transformWithState` calls a processor
  * only for keys that have rows in the batch, so `rows` is never empty.
  * The state variable's name and encoder are the checkpoint's schema:
  * changing either makes existing checkpoints unrestorable.
  */
private[streaming] object KeyedFold {

  def apply[K: Encoder, In, S: Encoder, Out: Encoder](in: Dataset[In],
      key: In => K, mode: OutputMode, stateName: String)(
      step: (K, Option[S], Iterator[In]) => (S, Iterator[Out])): Dataset[Out] =
    in.groupByKey(key).transformWithState(
      new FoldProcessor(stateName, implicitly[Encoder[S]], step),
      TimeMode.None(), mode)

  private class FoldProcessor[K, In, S, Out](stateName: String,
      stateEnc: Encoder[S], step: (K, Option[S], Iterator[In]) => (S, Iterator[Out]))
      extends StatefulProcessor[K, In, Out] {

    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](stateName, stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[In],
        timerValues: TimerValues): Iterator[Out] = {
      val (next, out) = step(key, if (st.exists()) Some(st.get()) else None, rows)
      st.update(next)
      out
    }
  }
}
