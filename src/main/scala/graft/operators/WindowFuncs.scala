package graft.operators

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** §2.5 analytic window functions. Every window spec carries a unique
  * tiebreak key in its ORDER BY so rank/lag results are deterministic in
  * both engines. Running float sums accumulate in DECIMAL (exact) and
  * surface as DOUBLE.
  */
object WindowFuncs {

  val ops: Seq[Op] = Seq(
    Op("win_rank_topk", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    rank() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
             |  FROM orders)
             |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),

    Op("win_rownum_dense", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_custkey", "rn")
    },
      Some("""SELECT o_custkey, o_orderkey,
             | CAST(row_number() OVER w AS INT) AS rn,
             | CAST(dense_rank() OVER w AS INT) AS drnk,
             | CAST(ntile(4) OVER w AS INT) AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC)
             |ORDER BY o_custkey, rn""".stripMargin)),

    Op("win_lag_lead", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
        .withColumn("next_gap_us", unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts")))
        .select("event_id", "gap_us", "next_gap_us")
        .orderBy("event_id")
    },
      Some("""SELECT event_id,
             | epoch_us(ts2) - epoch_us(lag(ts2, 1) OVER w) AS gap_us,
             | epoch_us(lead(ts2, 1) OVER w) - epoch_us(ts2) AS next_gap_us
             |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id)
             |ORDER BY event_id""".stripMargin)),

    Op("win_running_sum", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("cum_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
      Some("""SELECT o_custkey, o_orderkey,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Trailing-1h sum per user: Spark range frames are numeric, so the
    // ordering key is epoch µs and the frame is [-3600e6, 0].
    Op("win_range_frame", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, dir)
        .select(col("event_id"),
          sum(col("value").cast(DecimalType(18, 6))).over(w)
            .cast("double").as("sum_1h"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id,
             | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
             |   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             |   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_1h
             |FROM events ORDER BY event_id""".stripMargin)),

    // Running COUNT(DISTINCT) per user — the classic "distinct event types
    // seen so far" cumulative metric. A distinct-aggregate window is
    // unsupported (and would hold per-row state); the scalable identity is
    // first-occurrence flagging: row_number()=1 over (user, type) marks
    // each type's first event, and a plain running SUM of the flag over
    // the user's timeline is the running distinct count. Two window
    // passes over the SAME (user)-keyed exchange — Spark reuses the hash
    // partitioning, so one shuffle total, constant per-row state, no
    // collect_set blowup at any cardinality.
    Op("win_running_distinct", (s, dir) => {
      val firstW = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val runW = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .withColumn("fs",
          when(row_number().over(firstW) === 1, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("fs")).over(runW).as("n_distinct_types"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, user_id,
             | CAST(sum(fs) OVER (PARTITION BY user_id ORDER BY ts2, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |   AS n_distinct_types
             |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts2,
             |   CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
             |     ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
             |     THEN 1 ELSE 0 END AS fs
             |  FROM events)
             |ORDER BY event_id""".stripMargin)),

    // Rolling 20-row Pearson correlation (the feature-engineering form:
    // a trailing co-movement signal per row). Never the built-in corr()
    // over a frame — its double accumulation is summation-order-
    // dependent; instead all five sufficient statistics accumulate in
    // exact DECIMAL over the same frame (the products are exactly
    // representable: integral quantity × 2-decimal price), and the
    // correlation arithmetic runs on exact values per row — identical
    // doubles in both engines (every downstream op is a correctly-rounded
    // IEEE op over identical operands in identical order, including the
    // zero-variance guard that yields NULL instead of a ±Inf/NaN
    // division). One partition-keyed exchange; the five window
    // aggregates share one frame pass.
    Op("win_rolling_corr", (s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic feed
      // (the driver's generator does not enforce the TPC-H PK), so the
      // frame order tiebreaks through part/supp keys and finally the two
      // measure columns themselves: any rows still tied then carry
      // identical (quantity, price), so every engine's frame holds the
      // same value multiset and the correlation is well-defined.
      // Round 11: the trailing-20 frame runs BLOCKED (ScalableWindows
      // carry machine) — each returnflag's sequence splits into
      // equi-depth l_orderkey blocks whose last 19 rows are duplicated
      // into the next block, so the window partitions on (flag, block)
      // instead of the 3-value enum alone. Frame contents, and the
      // decimal sums over them, are bit-identical to the single-window
      // form.
      val ord = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"))
      val blocked = ScalableWindows.withTrailingBlocks(
        t(s, dir, "lineitem").select("l_returnflag", "l_orderkey",
          "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice"),
        Seq("l_returnflag"), "l_orderkey", ord, lookback = 19,
        buckets = 32)
      val w = Window.partitionBy(col("l_returnflag"), col("__blk"))
        .orderBy(ord: _*)
        .rowsBetween(-19, 0)
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      def ds(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 4))).over(w)
      val df = blocked
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("__carry"),
          count(lit(1)).over(w).cast("double").as("n"),
          ds(x).cast("double").as("sx"), ds(y).cast("double").as("sy"),
          ds(x * y).cast("double").as("sxy"),
          ds(x * x).cast("double").as("sxx"), ds(y * y).cast("double").as("syy"))
        .filter(!col("__carry"))
      df.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0.0 &&
               (col("n") * col("syy") - col("sy") * col("sy")) > 0.0,
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                   (col("n") * col("syy") - col("sy") * col("sy"))), 6))
            .as("rolling_corr"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    },
      Some("""WITH s AS (SELECT l_returnflag, l_orderkey, l_linenumber,
             |   CAST(count(*) OVER w AS DOUBLE) AS n,
             |   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
             |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sy,
             |   CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sxy,
             |   CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sxx,
             |   CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS syy
             |  FROM lineitem
             |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey,
             |    l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
             |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
             |SELECT l_returnflag, l_orderkey, l_linenumber,
             | CASE WHEN (n * sxx - sx * sx) > 0.0 AND (n * syy - sy * sy) > 0.0
             |   THEN round((n * sxy - sx * sy) /
             |     sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             |   ELSE NULL END AS rolling_corr
             |FROM s ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)),

    // Per-row z-score standardization within the group (the feature-
    // normalization projection of a training pipeline) — population
    // mean/stddev come from exact DECIMAL sums in one two-phase hash
    // agg, broadcast back to the row stream, so every engine derives
    // the identical statistics and the per-row arithmetic is the same
    // correctly-rounded IEEE expression. Constant-valued groups null
    // out via the exact-variance guard rather than dividing by zero.
    // ROLLING EXACT MEDIAN — the robust smoother (a spike moves a rolling
    // mean, not a rolling median) over each user's last-7-events frame.
    // `percentile(0.5)` as a WINDOW aggregate: the frame holds <= 7
    // values, so the per-row sort is O(7 log 7) — constant — and the
    // exchange is the same user-key shuffle every other per-user window
    // rides. Cross-engine: the median of <= 7 doubles is either an input
    // element or the correctly-rounded midpoint (a+b)/2 of two elements,
    // and the frame membership is total-ordered by (ts, event_id) — so
    // it matches DuckDB's quantile_cont window bit-for-bit. At 100 TB
    // this is the streaming-friendly smoother shape: bounded frame,
    // single key exchange, no global sort (the presentation orderBy is
    // the report's, dropped in pipeline use).
    Op("win_rolling_median", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          round(percentile(col("value"), lit(0.5)).over(w), 6)
            .as("rolling_median"))
        .orderBy("user_id", "ts", "event_id")
    },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
             |  FROM events)
             |SELECT event_id, user_id, ts, value,
             | round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
             |   ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             |   AS rolling_median
             |FROM e ORDER BY user_id, ts, event_id""".stripMargin)),

    Op("win_zscore", (s, dir) => {
      // Round 11: the unbounded every-row frame IS a group aggregate —
      // computed as one two-phase hash agg + broadcast join-back instead
      // of a WindowExec that would carry a whole returnflag's rows in one
      // task (the parallelism-floor sweep's enum-key shape). Identical
      // decimal sums → identical released doubles.
      val x = col("l_quantity")
      def ds(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 4)))
      val st = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        ds(x).cast("double").as("sx"),
        ds(x * x).cast("double").as("sxx"))
      t(s, dir, "lineitem")
        .join(broadcast(st), "l_returnflag")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          x.as("qty"), col("n"), col("sx"), col("sxx"))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("qty"),
          when((col("sxx") / col("n")
              - (col("sx") / col("n")) * (col("sx") / col("n"))) > 0.0,
            round((col("qty") - col("sx") / col("n")) /
              sqrt(col("sxx") / col("n")
                - (col("sx") / col("n")) * (col("sx") / col("n"))), 6))
            .as("zscore"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "qty")
    },
      Some("""WITH s AS (SELECT l_returnflag, l_orderkey, l_linenumber,
             |   l_quantity AS qty,
             |   CAST(count(*) OVER w AS DOUBLE) AS n,
             |   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
             |   CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sxx
             |  FROM lineitem
             |  WINDOW w AS (PARTITION BY l_returnflag))
             |SELECT l_returnflag, l_orderkey, l_linenumber, qty,
             | CASE WHEN (sxx / n - (sx / n) * (sx / n)) > 0.0
             |   THEN round((qty - sx / n) /
             |     sqrt(sxx / n - (sx / n) * (sx / n)), 6)
             |   ELSE NULL END AS zscore
             |FROM s ORDER BY l_returnflag, l_orderkey, l_linenumber, qty""".stripMargin)),

    Op("win_first_last", (s, dir) => {
      val day = date_trunc("DAY", col("ts"))
      val w = Window.partitionBy(col("user_id"), day)
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, dir)
        .select(col("user_id"), day.as("day"),
          first("event_type").over(w).as("first_ev"),
          last("event_type").over(w).as("last_ev"))
        .distinct()
        .orderBy("user_id", "day")
    },
      Some("""SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             | first_value(event_type) OVER w AS first_ev,
             | last_value(event_type) OVER w AS last_ev
             |FROM events
             |WINDOW w AS (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
             |  ORDER BY CAST(ts AS TIMESTAMP), event_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY user_id, day""".stripMargin)),
  )
}
