package graft.streaming

import graft.Tables
import graft.operators.{AnalyticsExt, RelationalExt, Sessionization}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** §2.8 streaming operators (Structured Streaming): the incremental twins
  * of the batch sessionization/window operators in
  * [[graft.operators.Sessionization]]. Each takes any streaming (or
  * batch) events DataFrame with columns (event_id, user_id, ts, value,
  * event_type, …).
  *
  * Output-mode mapping from the reference's Kafka-Streams semantics:
  * continuous session *updates* ≈ Update mode; suppress-until-window-close
  * (emit final sessions only) ≈ Append mode after the watermark — the
  * demo's emit-final behavior, used here.
  */
object StreamingSessions {

  /** Gap-based sessionization with watermark; Append-mode compatible
    * (sessions emit once the watermark passes session end). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    Sessionization.sessions(events.withWatermark("ts", watermark), lit(gap))

  /** Dynamic-gap sessionization: session_window's gap EXPRESSION form
    * (per-event gap — purchases hold the session open longer) in
    * streaming mode, watermarked and Append-compatible. The gap rule is
    * [[graft.operators.Sessionization.dynamicGap]], the SAME expression
    * object the batch `sessionize_dynamic_gap` key groups by — the
    * §2.8-family parity contract (pinned in StreamingSpec) extends to
    * gap expressions, not just gap literals. Like every helper here,
    * sum_value rides the decimal accumulator (`Tables.dsum6`) exactly as
    * the batch keys do, so the float column is inside the parity
    * contract — it cannot drift with partitioning or arrival order. */
  def sessionizeDynamicGap(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    Sessionization.dynamicSessions(events.withWatermark("ts", watermark))

  /** Tumbling-window aggregation with watermark (Append-compatible). */
  def tumbling(events: DataFrame, width: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    Sessionization.tumblingWindows(events.withWatermark("ts", watermark), width)

  /** Sliding-window aggregation with watermark (Append-compatible): each
    * event lands in ⌈width/slide⌉ overlapping windows. */
  def sliding(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n_events"), Tables.dsum6(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("n_events"), col("sum_value"))

  /** Streaming OHLC downsampling: the batch `window_ohlc` body
    * ([[graft.operators.AnalyticsExt.ohlcWindows]]) as a watermarked
    * tumbling agg. min_by/max_by are declarative aggs, so state per
    * (user, window) is the same constant handful of accumulators as in
    * batch and the window finalizes once the watermark passes
    * (Append-compatible). */
  def ohlc(events: DataFrame, width: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    AnalyticsExt.ohlcWindows(events.withWatermark("ts", watermark), width)

  /** Streaming exact dedup on event_id, state bounded by the watermark. */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream⋈static dimension join (KStream⋈GlobalKTable analog). */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer, events("user_id") === customer("c_custkey"), "inner")

  /** Shared purchase/click branches for the windowed stream⋈stream joins:
    * both sides carry watermarks (state cleanup needs event-time bounds on
    * each branch — the join watermark is the min over the two). */
  private def purchaseClickBranches(events: DataFrame,
      watermark: String): (DataFrame, DataFrame) = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    (p, c)
  }

  private val purchaseClickCond =
    "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"

  /** Windowed stream⋈stream self-join (KStream.join(JoinWindows) analog):
    * purchase events matched to clicks by the same user within the
    * preceding hour. Both sides need watermarks for state cleanup. */
  def purchaseClickJoin(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val (p, c) = purchaseClickBranches(events, watermark)
    p.join(c, expr(purchaseClickCond))
  }

  /** KTable materialization (changelog compaction): latest record per
    * key, continuously updated — Update output mode re-emits a key's row
    * whenever a newer event arrives. The batch `dedup_latest_by_key`
    * body ([[graft.operators.RelationalExt.latestByKey]]), so stream and
    * batch compactions agree. */
  def latestByKey(events: DataFrame): DataFrame =
    RelationalExt.latestByKey(events)

  /** Windowed stream⋈stream LEFT OUTER join (KStream.leftJoin analog):
    * purchases keep a row even when no click preceded them — the null
    * side emits once the watermark passes the join window. */
  def purchaseClickLeftJoin(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val (p, c) = purchaseClickBranches(events, watermark)
    p.join(c, expr(purchaseClickCond), "leftOuter")
  }

  /** Windowed stream⋈stream FULL OUTER join (KStream.outerJoin analog):
    * BOTH unmatched sides emit a null-padded row once the watermark
    * passes their join window — clicks that never led to a purchase AND
    * purchases with no preceding click each surface exactly once. */
  def purchaseClickOuterJoin(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val (p, c) = purchaseClickBranches(events, watermark)
    p.join(c, expr(purchaseClickCond), "fullOuter")
  }

  /** First-match-wins branch predicates (KStream#split semantics): an
    * event belongs to branch i iff predicate i matches and none of the
    * earlier ones did. Null predicates count as non-matching. */
  def branchPredicates(preds: Seq[Column]): Seq[Column] = {
    val safe = preds.map(p => coalesce(p, lit(false)))
    safe.zipWithIndex.map { case (p, i) =>
      safe.take(i).foldLeft(p)((acc, prev) => acc && !prev)
    }
  }

  /** KStream `split`/`branch` + `to(topic)` analog: fan one event stream
    * out to one parquet sink per branch (first-match-wins, `rest` catching
    * the remainder) in a single `foreachBatch` pass — the batch is
    * persisted once and filtered N times, not recomputed per sink.
    *
    * Exactly-once per sink: each batch writes to
    * `<baseDir>/<branch>/batch_id=<id>` with overwrite, so a retried
    * micro-batch replaces its own partition instead of appending
    * duplicates (the file-sink-log idempotence trick, spelled out). */
  def branchFanOut(events: DataFrame, branches: Seq[(String, Column)],
      rest: Option[String], baseDir: String, checkpoint: String): StreamingQuery =
    events.writeStream
      .foreachBatch(branchWriteBatch(branches, rest, baseDir))
      .option("checkpointLocation", checkpoint)
      .start()

  /** The per-micro-batch writer behind [[branchFanOut]], exposed so the
    * retry path is testable: calling it twice with the same batchId must
    * leave each sink with exactly one copy (overwrite of the same
    * `batch_id=` partition — idempotent replay). */
  def branchWriteBatch(branches: Seq[(String, Column)], rest: Option[String],
      baseDir: String): (DataFrame, Long) => Unit = {
    val names = branches.map(_._1) ++ rest
    val matchAny = branches.map(b => coalesce(b._2, lit(false))).reduce(_ || _)
    val preds = branchPredicates(branches.map(_._2)) ++ rest.map(_ => !matchAny)
    (batch: DataFrame, id: Long) => {
      batch.persist()
      try names.zip(preds).foreach { case (name, p) =>
        batch.filter(p).write.mode("overwrite")
          .parquet(s"$baseDir/$name/batch_id=$id")
      } finally batch.unpersist()
    }
  }

  /** Parquet-backed streaming source over the events table (the no-Kafka
    * replay source for this zero-egress environment). `ts` normalization is
    * schema-adaptive exactly like the batch path ([[graft.Tables.normalizeTs]]):
    * raw-nanos LongType → truncate to µs; native timestamp[us] → cast. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // File-stream sources require a directory or glob, not a bare file.
    graft.Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(s"$dir/events*"))
  }
}
