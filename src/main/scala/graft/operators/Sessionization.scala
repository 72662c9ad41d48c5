package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.8 sessionization & time windows — the reference's core semantics
  * (Kafka Streams `SessionWindows.ofInactivityGapAndGrace`,
  * `TimeWindows`). Batch forms here (oracle-verified); streaming twins
  * live in `graft.streaming` and are parity-tested against these.
  *
  * Gap rule (must agree between all implementations and the oracle):
  * an event starts a NEW session iff `ts - prev_ts > gap` — an event
  * landing exactly at `last_ts + gap` still MERGES. Pinned empirically
  * against Spark's `session_window` by the boundary case in
  * StreamingSpec (minute-aligned events at 0/29/59 min merge into one
  * session with gap=30min).
  */
object Sessionization {
  val GapUs = 30L * 60 * 1000000 // 30 minutes in µs

  /** Shared lag+cumsum session assignment: adds `session_seq` (1-based
    * ordinal of the session within each user). */
  def withSessionSeq(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > GapUs, 1)
          .otherwise(0))
      .withColumn("session_seq", sum("new_s").over(wCum))
  }

  /** DuckDB twin of [[withSessionSeq]] over `events`: `e` carries `cols`
    * beside (user_id, event_id, ts), `g` flags each session's first
    * event, `s` adds the BIGINT session_seq. */
  private[operators] def oracleSessionCte(cols: String = "value"): String =
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, $cols FROM events),
      | g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
      |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |   FROM g)""".stripMargin

  /** Test-facing: (user_id, session_start, session_end=last+gap, n_events,
    * sum_value) via lag+cumsum — comparable 1:1 with the native and
    * stateful implementations. */
  def batchSessions(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withSessionSeq(df)
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        (timestamp_micros(unix_micros(max(col("ts"))) + GapUs)).as("session_end"),
        dsum6(col("value")).as("sum_value"))
      .drop("session_seq")

  /** Sessions via the native session_window operator, batch or streaming:
    * (user_id, session_start, session_end = max over the session of
    * ts + gap, n_events, sum_value). `gap` is a duration string column,
    * constant or per event. The bounds are aggregates, not fields of the
    * window struct: Spark 4.1 pushes a filter on the struct's `end` below
    * the session merge, where it sees each event's own window, so
    * `filter(session_end <= t)` returned sessions that never existed. */
  def sessions(df: DataFrame, gap: Column): DataFrame =
    df.groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts") + gap.cast("interval")).as("session_end"),
        count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
      .drop("sw")

  /** Per-user tumbling windows of `width`: (user_id, w_start, n_events,
    * sum_value). The body of `window_tumbling` and of its streaming twin
    * [[graft.streaming.StreamingSessions.tumbling]]. */
  def tumblingWindows(df: DataFrame, width: String): DataFrame =
    df.groupBy(col("user_id"), window(col("ts"), width).as("w"))
      .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("n_events"), col("sum_value"))

  /** Test-facing: static-gap sessions, comparable 1:1 with [[batchSessions]]. */
  def nativeSessions(df: DataFrame): DataFrame = sessions(df, lit("30 minutes"))

  /** The dynamic gap RULE `sessionize_dynamic_gap` and its streaming twin
    * share (one expression object — the two modes cannot drift): a
    * purchase holds the session open 60 minutes, everything else 30. */
  val dynamicGap: org.apache.spark.sql.Column =
    when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))

  /** Test-facing: dynamic-gap sessions via session_window's gap
    * EXPRESSION form, over any (user_id, ts, value, event_type) frame —
    * the exact plan of the `sessionize_dynamic_gap` key minus the
    * presentation sort. */
  def dynamicSessions(df: DataFrame): DataFrame = sessions(df, dynamicGap)

  val ops: Seq[Op] = Seq(
    // The classic batch sessionization: lag + cumulative sum.
    Op("sessionize_batch", (s, dir) =>
      withSessionSeq(events(s, dir))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"),
          max("ts").as("session_end"),
          dsum6(col("value")).as("sum_value"))
        .orderBy("user_id", "session_seq"),
      Some(s"""${oracleSessionCte()}
              |SELECT user_id, session_seq, count(*) AS n_events,
              | min(ts) AS session_start, max(ts) AS session_end,
              | ${dsum6Sql("value")} AS sum_value
              |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Same semantics via the native session_window operator (works in both
    // batch and streaming). session end = last event + gap.
    Op("sessionize_native", (s, dir) =>
      nativeSessions(events(s, dir)).orderBy("user_id", "session_start"),
      Some(s"""${oracleSessionCte()}
              |SELECT user_id, min(ts) AS session_start,
              | max(ts) + INTERVAL 30 MINUTE AS session_end,
              | count(*) AS n_events, ${dsum6Sql("value")} AS sum_value
              |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_start""".stripMargin)),

    Op("window_tumbling", (s, dir) =>
      tumblingWindows(events(s, dir), "1 hour").orderBy("user_id", "w_start"),
      Some(s"""SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
              | count(*) AS n_events, ${dsum6Sql("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Op("window_sliding", (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), round(avg("value"), 6).as("avg_value"))
        .select(col("user_id"), col("w.start").as("w_start"),
          col("n_events"), col("avg_value"))
        .orderBy("user_id", "w_start"),
      // Each event belongs to exactly ceil(1h/15min)=4 sliding windows whose
      // starts are time_bucket(15min) - i*15min, i in 0..3.
      Some("""SELECT user_id, w_start, count(*) AS n_events, round(avg(value), 6) AS avg_value
             |FROM (SELECT user_id,
             |   time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) - to_minutes(i*15) AS w_start,
             |   value
             | FROM events, (SELECT unnest(generate_series(0, 3)) AS i))
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // SESSION-SCOPED FUNNEL — the composite the sessionizer exists to
    // feed: per session, did the user see a view and then purchase
    // WITHIN that session (ordered: first view at-or-before last
    // purchase)? Rolled up per user to a session-level conversion rate.
    // Shares withSessionSeq's gap rule; both the per-session flags and
    // the per-user rollup ride the ONE user_id exchange the session
    // window already paid. The rate is a single correctly-rounded
    // division of exact counts.
    Op("sessionize_funnel", (s, dir) =>
      withSessionSeq(events(s, dir))
        .groupBy("user_id", "session_seq")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("fv"),
          max(when(col("event_type") === "purchase", col("ts"))).as("lp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          count(when(col("fv").isNotNull && col("lp").isNotNull
            && col("fv") <= col("lp"), 1)).as("n_converted"))
        .withColumn("conversion", col("n_converted") / col("n_sessions"))
        .orderBy("user_id"),
      Some(s"""${oracleSessionCte("event_type")},
             | f AS (SELECT user_id, session_seq,
             |    min(ts) FILTER (WHERE event_type = 'view') AS fv,
             |    max(ts) FILTER (WHERE event_type = 'purchase') AS lp
             |   FROM s GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             | count(*) FILTER (WHERE fv IS NOT NULL AND lp IS NOT NULL
             |   AND fv <= lp) AS n_converted,
             | count(*) FILTER (WHERE fv IS NOT NULL AND lp IS NOT NULL
             |   AND fv <= lp) / count(*) AS conversion
             |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // DYNAMIC-GAP sessions: the inactivity gap is per-EVENT, not a
    // constant — a purchase keeps the session alive for 60 minutes,
    // anything else for 30 (the "intent-weighted timeout" every real
    // sessionizer eventually grows). Declared with the native
    // session_window's gap-expression overload, so the physical plan is
    // the same single user-key exchange + merging-session aggregation as
    // the static key — state per open session stays O(1) in streaming
    // and the batch form never materializes per-event windows. Merge
    // rule (pinned by the static boundary test and mirrored in the
    // oracle): an event MERGES while ts <= max over earlier events of
    // (ts_i + gap_i); the session's end is that running max's final
    // value — with heterogeneous gaps a trailing view can end strictly
    // before an earlier purchase's horizon, which is exactly the case
    // the oracle's running-max CTE exercises.
    Op("sessionize_dynamic_gap", (s, dir) =>
      dynamicSessions(events(s, dir)).orderBy("user_id", "session_start"),
      Some(s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
              |   CAST(ts AS TIMESTAMP) + CASE WHEN event_type = 'purchase'
              |     THEN INTERVAL 60 MINUTE ELSE INTERVAL 30 MINUTE END AS w_end
              | FROM events),
              | m AS (SELECT *, max(w_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM e),
              | g AS (SELECT *, CASE WHEN prev_max IS NULL OR ts > prev_max
              |     THEN 1 ELSE 0 END AS new_s FROM m),
              | s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
              |SELECT user_id, min(ts) AS session_start, max(w_end) AS session_end,
              | count(*) AS n_events, ${dsum6Sql("value")} AS sum_value
              |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // Per-user session distribution report — the summary a sessionized
    // product-analytics table is actually read for (how often does each
    // user come back, how long do they stay). Built on the SAME gap rule
    // as sessionize_batch (shared withSessionSeq), then two hash aggs
    // that both reuse the window's user_id partitioning: session rows →
    // user rows, so raw events cross exactly one exchange. Durations are
    // exact integer µs end-to-end; the only doubles are the final
    // mirrored round(x / n / 1e6) projections.
    Op("sessionize_stats", (s, dir) => {
      val sess = withSessionSeq(events(s, dir))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_ev"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("dur_us"))
      sess.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_ev").as("n_events"),
          max("n_ev").as("max_session_events"),
          round(sum(col("dur_us")) / count(lit(1)) / lit(1000000.0), 6)
            .as("avg_session_s"),
          round(max(col("dur_us")) / lit(1000000.0), 6).as("max_session_s"))
        .orderBy("user_id")
    },
      Some(s"""${oracleSessionCte()},
              | sess AS (SELECT user_id, session_seq, count(*) AS n_ev,
              |    epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
              |  FROM s GROUP BY 1, 2)
              |SELECT user_id, count(*) AS n_sessions,
              | CAST(sum(n_ev) AS BIGINT) AS n_events,
              | max(n_ev) AS max_session_events,
              | round(CAST(sum(dur_us) AS BIGINT) / count(*) / 1000000.0, 6) AS avg_session_s,
              | round(max(dur_us) / 1000000.0, 6) AS max_session_s
              |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DAILY BOUNCE RATE (round 11) — the engagement-quality readout on
    // top of the sessionizer: per session-start day, how many sessions
    // are single-event bounces, and how deep do the rest go? Rides the
    // same lag+cumsum session machine as sessionize_batch (one user
    // exchange), then a calendar-bounded daily rollup of session rows.
    Op("sessionize_bounce", (s, dir) => {
      val sess = withSessionSeq(events(s, dir))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_ev"), min(col("ts")).as("st"))
      sess.groupBy(to_date(col("st")).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_ev") === 1L, 1L).otherwise(0L)).as("n_bounce"),
          sum("n_ev").as("n_events"))
        .select(col("day"), col("n_sessions"), col("n_bounce"),
          round(col("n_bounce").cast("double") / col("n_sessions"), 6)
            .as("bounce_rate"),
          round(col("n_events").cast("double") / col("n_sessions"), 6)
            .as("avg_depth"))
        .orderBy("day")
    },
      Some(s"""${oracleSessionCte()},
              | sess AS (SELECT user_id, session_seq, count(*) AS n_ev,
              |    CAST(min(ts) AS DATE) AS day
              |  FROM s GROUP BY 1, 2),
              | d AS (SELECT day, count(*) AS n_sessions,
              |   CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |     AS n_bounce,
              |   CAST(sum(n_ev) AS BIGINT) AS n_events
              |  FROM sess GROUP BY 1)
              |SELECT day, n_sessions, n_bounce,
              | round(CAST(n_bounce AS DOUBLE) / n_sessions, 6) AS bounce_rate,
              | round(CAST(n_events AS DOUBLE) / n_sessions, 6) AS avg_depth
              |FROM d ORDER BY day""".stripMargin)),

    // SESSION ENTRY/EXIT MATRIX (round 11) — what do sessions START and
    // END with? The navigation-flow table behind every landing/exit
    // analysis: first/last event type per session via tie-deterministic
    // min_by/max_by on the (ts, event_id) total order (the oracle
    // replays them as rn=1 windows), then the |types|² matrix with
    // shares. Same one-exchange session machine; everything after is
    // session-row-sized.
    Op("sessionize_entry_exit", (s, dir) => {
      val sess = withSessionSeq(events(s, dir))
        .groupBy("user_id", "session_seq")
        .agg(min_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("entry_type"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("exit_type"))
      val tot = sess.agg(count(lit(1)).as("ns"))
      sess.groupBy("entry_type", "exit_type")
        .agg(count(lit(1)).as("n_sessions"))
        .crossJoin(broadcast(tot))
        .select(col("entry_type"), col("exit_type"), col("n_sessions"),
          round(col("n_sessions").cast("double") / col("ns").cast("double"),
            6).as("share"))
        .orderBy("entry_type", "exit_type")
    },
      Some(s"""${oracleSessionCte("event_type")},
              | r AS (SELECT user_id, session_seq, event_type,
              |   row_number() OVER (PARTITION BY user_id, session_seq
              |     ORDER BY ts, event_id) AS rn_a,
              |   row_number() OVER (PARTITION BY user_id, session_seq
              |     ORDER BY ts DESC, event_id DESC) AS rn_d
              |  FROM s),
              | sess AS (SELECT user_id, session_seq,
              |   min(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
              |   min(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
              |  FROM r GROUP BY 1, 2),
              | tot AS (SELECT count(*) AS ns FROM sess)
              |SELECT entry_type, exit_type, count(*) AS n_sessions,
              | round(CAST(count(*) AS DOUBLE)
              |   / (SELECT CAST(ns AS DOUBLE) FROM tot), 6) AS share
              |FROM sess GROUP BY 1, 2 ORDER BY entry_type, exit_type""".stripMargin)),
  )
}
