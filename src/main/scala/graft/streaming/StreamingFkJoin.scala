package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming TABLE⋈TABLE foreign-key join (§2.8 extension) — the analog
  * of Kafka Streams' `KTable.join(other, foreignKeyExtractor, ...)`
  * (KIP-213, Kafka 2.4): a fact changelog (orders, keyed by order id,
  * carrying a customer FK) continuously enriched by a dimension
  * changelog (customers, keyed by the FK), with UPDATE-MODE re-emission
  * on EITHER side's change — a dimension upsert re-emits every joined
  * fact under that key with the new dimension value, which is exactly
  * what distinguishes the FK join from a stream-static lookup (stale
  * enrichment) or a stream-stream interval join (no table semantics).
  *
  * Spark-first shape: Kafka Streams needs the two-hop subscription
  * topology because facts stay partitioned by their PRIMARY key; here
  * both changelogs union into ONE feed shuffled by the FK, and a single
  * `transformWithState` processor holds (dimension row, fact map) per
  * FK — one exchange total, no subscription round-trip. Per-key state is
  * the dimension value plus the facts currently referencing that key
  * (`MapState`, point-updated — never rewritten wholesale), the same
  * bounded-per-key contract as the sessionizers: a key's state is its
  * live fan-in, independent of stream length, and RocksDB spills it.
  *
  * Upsert-order contract: `seq` is the changelog offset (strictly
  * increasing per key in any real changelog); the processor applies a
  * micro-batch's rows in `seq` order, so table semantics (last write
  * wins) hold under any chunking of an ordered feed. Emission: Update
  * mode; the latest emission per order id (max `seq`) IS the joined
  * table row. Inner-join semantics as the KS default: a fact with no
  * dimension yet emits nothing and joins retroactively when the
  * dimension row arrives (via the dim-side re-emission).
  *
  * LEFT-join mode (round 11, the KS `KTable.leftJoin` analog): a fact
  * with no dimension row yet emits immediately with a null segment and
  * upgrades in place when the dimension arrives (the dim-side
  * re-emission covers it, exactly as for inner). Dim DELETION is still
  * out of scope (no dim tombstones in the feed model).
  *
  * Mutable FKs (round 11): a fact whose FK changes needs the old key to
  * forget it, or the old dimension's next update re-emits a stale row
  * forever. KS routes that retraction through its subscription store —
  * a processor keyed by the fact's PRIMARY key that remembers the last
  * FK and emits an unsubscribe to the old one. [[routeFacts]] is that
  * stage: keyed by order id, a [[KeyedFold]] on the last FK, emitting a
  * tombstone `FkChange` on the OLD key plus the upsert on the new one;
  * [[FkJoinProcessor]] honors the tombstone by deleting the order from
  * the key's fact map (no emission — the new key's upsert emits the
  * fresh row, and Update-mode last-write-wins per order id does the
  * rest). Immutable-FK feeds can skip the router, as before.
  */
object StreamingFkJoin {

  /** One changelog record, either side: `is_dim` picks the union arm.
    * Fact rows populate (order_id, amount_micro); dim rows populate
    * segment. amount rides the repo's exact micro-unit lattice.
    * `is_tombstone` marks a router-issued old-key retraction of
    * `order_id` (fact-side only). */
  case class FkChange(cust_key: Long, is_dim: Boolean, order_id: Long,
      amount_micro: Long, segment: String, seq: Long,
      is_tombstone: Boolean = false)

  case class FkOut(order_id: Long, cust_key: Long, amount_micro: Long,
      segment: String, seq: Long)

  case class DimState(segment: String, seq: Long)

  class FkJoinProcessor(leftJoin: Boolean)
      extends StatefulProcessor[Long, FkChange, FkOut] {

    @transient private var dim: ValueState[DimState] = _
    @transient private var facts: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      dim = getHandle.getValueState[DimState]("dim",
        Encoders.product[DimState], TTLConfig.NONE)
      facts = getHandle.getMapState[Long, Long]("facts",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FkChange],
        timerValues: TimerValues): Iterator[FkOut] = {
      val sorted = rows.toVector.sortBy(_.seq)
      val out = Vector.newBuilder[FkOut]
      sorted.foreach { c =>
        if (c.is_tombstone) {
          // router-issued old-key retraction: this key no longer
          // enriches the order; the re-key upsert (same seq, new key)
          // emits the fresh row, so deletion is silent here
          facts.removeKey(c.order_id)
        } else if (c.is_dim) {
          dim.update(DimState(c.segment, c.seq))
          // the FK-join contract: a dimension change re-emits every
          // fact currently referencing this key with the new value
          facts.iterator().foreach { case (orderId, amount) =>
            out += FkOut(orderId, key, amount, c.segment, c.seq)
          }
        } else {
          facts.updateValue(c.order_id, c.amount_micro)
          if (dim.exists())
            out += FkOut(c.order_id, key, c.amount_micro,
              dim.get().segment, c.seq)
          else if (leftJoin)
            // KTable.leftJoin: emit fact-with-null-dim now; the dim's
            // later arrival re-emits with the real segment
            out += FkOut(c.order_id, key, c.amount_micro, null, c.seq)
        }
      }
      out.result().iterator
    }
  }

  /** Streaming entry point: the unioned (fact ∪ dim) changelog, keyed by
    * the foreign key. Update-mode emission. `leftJoin = true` switches
    * to `KTable.leftJoin` semantics (unmatched facts emit with a null
    * segment). */
  def fkJoin(changes: Dataset[FkChange],
      leftJoin: Boolean = false): Dataset[FkOut] = {
    implicit val outEnc = Encoders.product[FkOut]
    changes.groupByKey(_.cust_key)(Encoders.scalaLong)
      .transformWithState(new FkJoinProcessor(leftJoin),
        TimeMode.None(), OutputMode.Update())
  }

  /** KS subscription-store analog for MUTABLE FKs — the mutable-FK
    * pre-stage: fact changelog in, fact changelog + old-key tombstones
    * out, keyed by the fact's PRIMARY key (order id). State "last_fk" is
    * the last FK per order (one long per live order); on a re-key the
    * old-key tombstone is emitted ahead of the upsert. Feed this stage's
    * output (instead of the raw fact changelog) into [[fkJoin]] when
    * facts may change their FK. Runs as its own streaming stage — the
    * exact analog of KS's subscription repartition hop. */
  def routeFacts(facts: Dataset[FkChange]): Dataset[FkChange] = {
    import facts.sparkSession.implicits._
    KeyedFold[Long, FkChange, Long, FkChange](facts.filter(!_.is_dim),
        _.order_id, OutputMode.Update(), "last_fk") { (_, last, rows) =>
      var fk = last
      val out = rows.toVector.sortBy(_.seq).flatMap { c =>
        val tombstone = fk.filter(_ != c.cust_key).map(old =>
          FkChange(old, is_dim = false, c.order_id, 0L, null, c.seq,
            is_tombstone = true))
        fk = Some(c.cust_key)
        tombstone.toVector :+ c
      }
      (fk.get, out.iterator)
    }
  }
}
