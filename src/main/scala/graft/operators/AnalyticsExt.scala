package graft.operators

import graft.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 third-wave analytics: exact linear regression aggregates and
  * batch MERGE/upsert semantics.
  *
  * Scale notes: `agg_regression` is one two-phase hash aggregation — the
  * five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are map-side
  * partial-aggregated DECIMALs, so the result is partition-count
  * invariant and the regression math runs once per group on the driver
  * side of the final agg, not per row. `cdc_merge_upsert` is the
  * standard no-lakehouse MERGE: one full-outer join on the key (both
  * sides pre-compacted to latest-per-key by max_by aggs) + coalesce —
  * at 100 TB both compactions and the join share the user_id hash
  * partitioning, so AQE plans one shuffle per side and no re-shuffle
  * for the join.
  */
object AnalyticsExt {

  /** Per-user ratio-metric frame shared by agg_delta_method_ratio and
    * agg_jackknife_ratio_var: x = event count, y = dsum6 value sum, and
    * the suite's one salted-md5 A/B assignment (agg_srm_chisq's rule).
    * One user-keyed hash agg; |users| rows. */
  private def perUserXY(s: org.apache.spark.sql.SparkSession, dir: String) =
    events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("x"),
        dsum6(col("value")).as("y"))
      .withColumn("variant", when(srmArmA, lit("A")).otherwise(lit("B")))

  /** The suite's one salted-md5 A/B assignment: a user is in arm A iff
    * the first hex digit of md5("srm42:" || user_id) is below 8. Oracle
    * twin: [[srmArmASql]]. */
  private[operators] def srmArmA: org.apache.spark.sql.Column =
    substring(md5(concat(lit("srm42:"), col("user_id"))), 1, 1) < "8"
  private[operators] def srmArmASql: String =
    "substr(md5('srm42:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'"

  /** Exact per-type moments on the dsum6 lattice — (event_type, n, sx,
    * sxx), n as a double — from one two-phase corpus agg; the pairwise
    * and omnibus mean tests all start here. Oracle twin: the `st` CTE
    * [[typeMomentsCte]]. */
  private[operators] def typeMoments(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    events(s, dir).groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      dsum6(col("value")).as("sx"),
      dsum6(col("value") * col("value")).as("sxx"))
  private[operators] def typeMomentsCte: String =
    s"""st AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
       |   ${dsum6Sql("value")} AS sx, ${dsum6Sql("value * value")} AS sxx
       | FROM events GROUP BY 1)""".stripMargin

  /** The a- and b-sides of an ordered event-type pair: `event_type`
    * becomes type_a / type_b, `keep` columns (join keys) pass through and
    * each (column, prefix) in `renamed` becomes prefix + "a" / "b".
    * `event_type` leads unless `keep` names its place. Each key joins the
    * sides its own way. */
  private[operators] def typeSides(df: org.apache.spark.sql.DataFrame,
      keep: Seq[String], renamed: (String, String)*)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val lead = if (keep.contains("event_type")) keep else "event_type" +: keep
    def side(x: String) = df.select(lead.map(c =>
        if (c == "event_type") col(c).as(s"type_$x") else col(c)) ++
      renamed.map { case (c, p) => col(c).as(p + x) }: _*)
    (side("a"), side("b"))
  }

  /** DuckDB twin of [[markovFixedPoint]]'s grid + iteration chain: the
    * shared WITH-clause prefix (transition pairs → micro-lattice pm →
    * twelve unrolled integer iterations v1..v12) used by both markov
    * oracle entries. */
  private lazy val markovCtesSql: String = {
    val iters = (1 to 12).map(n =>
      s""" v$n AS (SELECT j AS state,
         |   CAST(sum(v * pm) // 1000000 AS BIGINT) AS v
         |  FROM v${n - 1} JOIN pm ON v${n - 1}.state = pm.i
         |  GROUP BY j)""".stripMargin).mkString(",\n")
    s"""WITH pr AS (SELECT user_id, event_type,
       |   lead(event_type) OVER (PARTITION BY user_id
       |     ORDER BY ts, event_id) AS to_type
       |  FROM events),
       | pairs AS (SELECT event_type AS i, to_type AS j, count(*) AS c
       |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
       | rt AS (SELECT i, CAST(sum(c) AS BIGINT) AS ct FROM pairs
       |  GROUP BY 1),
       | pm AS (SELECT pairs.i, pairs.j, (1000000 * c) // ct AS pm
       |  FROM pairs JOIN rt USING (i)),
       | states AS (SELECT DISTINCT i AS state FROM pairs
       |  UNION SELECT DISTINCT j FROM pairs),
       | kk AS (SELECT count(*) AS k FROM states),
       | v0 AS (SELECT state,
       |   CAST(1000000 // (SELECT k FROM kk) AS BIGINT) AS v
       |  FROM states),
       |$iters""".stripMargin
  }

  /** The fixed-point Markov machine shared by ts_markov_steady and
    * ts_markov_entropy_rate: micro-lattice transition matrix
    * pm_ij = (1e6·c_ij) div c_i from ONE corpus pass (per-user lag
    * window + pair agg), then twelve bit-exact integer power
    * iterations v'(j) = (Σ_i v(i)·pm_ij) div 1e6 run driver-side on
    * the collected ≤|types|² grid behind a tripwired `require` (the
    * MMR-page bounded-collect idiom — the state grid is
    * vocabulary-bounded, never corpus-sized). Returns (pm cells,
    * stationary micro-units per state). */
  private def markovFixedPoint(s: org.apache.spark.sql.SparkSession,
      dir: String): (Array[(String, String, Long)], Map[String, Long]) = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("i"), col("to_type").as("j"))
      .agg(count(lit(1)).as("c"))
    val rowsT = pairs.groupBy("i").agg(sum("c").as("ct"))
    val pm = pairs.join(rowsT, "i")
      .select(col("i"), col("j"), expr("(1000000 * c) div ct").as("pm"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(pm.length <= 4096, "markov state-grid tripwire: |types|^2 " +
      "cells expected, got a corpus-sized frame")
    val states = (pm.map(_._1) ++ pm.map(_._2)).distinct.sorted
    var v: Map[String, Long] =
      states.map(st => st -> 1000000L / states.length).toMap
    for (_ <- 1 to 12) {
      val nv = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      pm.foreach { case (i, j, p) => nv(j) += v.getOrElse(i, 0L) * p }
      v = nv.iterator.map { case (st, acc) => st -> acc / 1000000L }.toMap
    }
    (pm, v)
  }

  /** The dow×hour seasonal-profile decomposition frame shared by
    * ts_seasonal_decompose and ts_seasonal_strength: hourly actuals,
    * the per-(dow, hr) mean profile broadcast back, and the residual.
    * Bounded by the calendar-hour grid after the one corpus agg. */
  private def seasonalFrame(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val hourly = events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(round(dsum6(col("value")), 6).as("actual"))
      .withColumn("dow", dayofweek(col("hour_ts")))
      .withColumn("hr", hour(col("hour_ts")))
    val profile = hourly.groupBy("dow", "hr")
      .agg(round(sum(col("actual").cast(
        org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(lit(1)), 6).as("expected"))
    hourly.join(broadcast(profile), Seq("dow", "hr"))
      .select(col("hour_ts"), col("dow"), col("hr"), col("actual"),
        col("expected"),
        round(col("actual") - col("expected"), 6).as("residual"))
  }

  /** Per-user OHLC over tumbling windows of `width`: open/close pick by
    * event time via min_by/max_by. The body of `window_ohlc` and of its
    * streaming twin [[graft.streaming.StreamingSessions.ohlc]]. */
  def ohlcWindows(df: org.apache.spark.sql.DataFrame,
      width: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col("user_id"), window(col("ts"), width).as("w"))
      .agg(min_by(col("value"), col("ts")).as("open_value"),
        max(col("value")).as("high_value"),
        min(col("value")).as("low_value"),
        max_by(col("value"), col("ts")).as("close_value"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("open_value"), col("high_value"), col("low_value"),
        col("close_value"), col("n_events"))

  /** Bucket count for the rank-test value-domain machine — the
    * parallelism knob of [[denseTypeValueCum]]: the widest window runs
    * on ~|distinct values|/B rows per (type, bucket) partition. */
  val RankTestBuckets: Int = 64

  /** Densified per-(event_type, value) count + inclusive-cumulative
    * frame over the VALUE DOMAIN — the shared substrate of the rank
    * tests `agg_mann_whitney`, `agg_ks_test`, `agg_kruskal_wallis`.
    * Columns: (event_type, value, cnt, cum); one row per (type, value)
    * for EVERY distinct corpus value (cnt = 0 where the type lacks it),
    * cum = inclusive per-type cumulative count in value order.
    *
    * TWO-LEVEL (bucketed) CUMSUM (round 11): the naive
    * `Window.partitionBy("event_type").orderBy("value")` cumsum carries
    * a whole type's value domain in ONE task — fine for enum-like
    * metrics, a |types|-task parallelism floor when the metric is
    * continuous (measured 18% distinct values at 100k events, growing
    * with the corpus — the round-10 weak grade). Instead:
    * (1) equi-width `width_bucket` ids over the value domain
    * ([[ScalableWindows.withBuckets]] — only load BALANCE depends on
    * boundaries, never correctness); (2) per-(type, bucket) totals,
    * cumsum'd across the tiny |types|×B bucket grid; (3) within-(type,
    * bucket) cumsum by value plus the exclusive bucket offset. Bucket
    * assignment is monotone nondecreasing in value, so ordering by
    * (bucket, value) ≡ ordering by value and the summed integers are
    * IDENTICAL to the single-window form (same oracle hash) — while the
    * wide window now runs on |types|×B partitions, parallelism ∝ B
    * instead of |types|. Pinned in PlanSpec: every WindowExec in these
    * keys' plans has a multi-column partitionSpec, and the
    * parallelism-floor sweep sees bucket-bounded window inputs. */
  private[graft] def denseTypeValueCum(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val vc = events(s, dir).groupBy("event_type", "value")
      .agg(count(lit(1)).as("cnt"))
    val vals = vc.select("value").distinct()
    val types = vc.select("event_type").distinct()
    // bucket the DISTINCT-value frame (|types|× smaller than dense),
    // then densify — the bucket id rides the join
    val dense = ScalableWindows.withBuckets(vals, "value", RankTestBuckets)
      .crossJoin(broadcast(types))
      .join(vc, Seq("event_type", "value"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumnRenamed("__bkt", "bkt")
    val wB = Window.partitionBy("event_type").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = dense.groupBy("event_type", "bkt").agg(sum("cnt").as("bcnt"))
      .withColumn("boff", sum("bcnt").over(wB) - col("bcnt"))
      .select("event_type", "bkt", "boff")
    val wIn = Window.partitionBy("event_type", "bkt").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(broadcast(off), Seq("event_type", "bkt"))
      .withColumn("cum", sum("cnt").over(wIn) + col("boff"))
      .select("event_type", "value", "cnt", "cum")
  }

  /** DuckDB twin of [[denseTypeValueCum]] (one window per type; the
    * buckets are a Spark parallelism device with the same result). */
  private def denseCumCtes: String =
    """WITH vc AS (SELECT event_type, value, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      | vals AS (SELECT DISTINCT value FROM vc),
      | types AS (SELECT DISTINCT event_type FROM vc),
      | dense AS (SELECT t.event_type, v.value, COALESCE(cnt, 0) AS cnt
      |  FROM vals v CROSS JOIN types t
      |  LEFT JOIN vc ON vc.event_type = t.event_type AND vc.value = v.value),
      | cum AS (SELECT event_type, value, cnt,
      |   sum(cnt) OVER (PARTITION BY event_type ORDER BY value
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM dense)""".stripMargin

  /** The group-sequential release tail shared by the batch
    * agg_group_sequential_obf key and the StreamingSeqMonitor parity
    * spec: cumulative per-(variant, look) moments (cn, csx, csxx as
    * doubles) → released (look, n_a, n_b, z, boundary, crossed). One
    * IEEE tree — any two paths that produce identical moments release
    * identical bits. */
  def obfRelease(cum: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def side(v: String, sfx: String) = cum.filter(col("variant") === v)
      .select(col("look"), col("cn").as(s"n$sfx"),
        col("csx").as(s"sx$sfx"), col("csxx").as(s"sxx$sfx"))
    val va = (col("sxxa") - col("sxa") * col("sxa") / col("na")) /
      (col("na") - lit(1.0))
    val vb = (col("sxxb") - col("sxb") * col("sxb") / col("nb")) /
      (col("nb") - lit(1.0))
    val z = (col("sxa") / col("na") - col("sxb") / col("nb")) /
      sqrt(va / col("na") + vb / col("nb"))
    val bound = lit(2.024) * sqrt(lit(4.0) / col("look"))
    side("A", "a").join(side("B", "b"), "look")
      .select(col("look"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(z, 6).as("z"), round(bound, 6).as("boundary"),
        (abs(round(z, 6)) > round(bound, 6)).as("crossed"))
      .orderBy("look")
  }

  /** Interleave the low 16 bits of `x` (even positions) and `y` (odd):
    * the standard Morton spread via doubling shifts + masks. Result fits
    * in 32 bits — no sign hazard. */
  def zorderKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    def spread16(c: org.apache.spark.sql.Column) = {
      val v0 = c.bitwiseAND(lit(0xFFFFL))
      val v1 = (v0.bitwiseOR(shiftleft(v0, 8))).bitwiseAND(lit(0x00FF00FFL))
      val v2 = (v1.bitwiseOR(shiftleft(v1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val v3 = (v2.bitwiseOR(shiftleft(v2, 2))).bitwiseAND(lit(0x33333333L))
      (v3.bitwiseOR(shiftleft(v3, 1))).bitwiseAND(lit(0x55555555L))
    }
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))
  }

  /** DuckDB twin of [[zorderKey]] (same spread, SQL operators). */
  def zorderSql(x: String, y: String): String = {
    def spread16(e: String) = {
      val v0 = s"($e & 65535)"
      val v1 = s"(($v0 | ($v0 << 8)) & 16711935)"
      val v2 = s"(($v1 | ($v1 << 4)) & 252645135)"
      val v3 = s"(($v2 | ($v2 << 2)) & 858993459)"
      s"(($v3 | ($v3 << 1)) & 1431655765)"
    }
    s"(${spread16(x)} | (${spread16(y)} << 1))"
  }

  /** Lateness-bucket report over (user_id, event_id, us): each event's
    * event-time lag behind its user's running high-water mark in ARRIVAL
    * order (event_id). Factored out of the `ts_out_of_order_stats` key
    * so the spec can drive the disorder buckets with a scrambled
    * fixture. */
  private[graft] def outOfOrderStats(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    ev.withColumn("late_us", max("us").over(w) - col("us"))
      .select(
        when(col("late_us") === 0L, "a_on_time")
          .when(col("late_us") <= 60L * 1000000, "b_within_1m")
          .when(col("late_us") <= 600L * 1000000, "c_within_10m")
          .when(col("late_us") <= 3600L * 1000000, "d_within_1h")
          .otherwise("e_over_1h").as("bucket"),
        col("late_us"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_events"), max("late_us").as("max_late_us"))
      .orderBy("bucket")
  }

  val ops: Seq[Op] = Seq(
    // Least-squares y = slope·x + intercept per group, from exact DECIMAL
    // sufficient statistics (NOT the built-in regr_* functions, whose
    // double accumulation is summation-order-dependent and so not
    // bit-stable across engines/partitionings). The final arithmetic runs
    // on exact sums → identical doubles in Spark and DuckDB.
    Op("agg_regression", (s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val g = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"),
        dsum(x * y).as("sxy"), dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("l_returnflag"),
          round((cov / varx), 9).as("slope"),
          round((col("sy") - (cov / varx) * col("sx")) / col("n"), 9).as("intercept"),
          round((cov * cov) / (varx * vary), 9).as("r2"))
        .orderBy("l_returnflag")
    },
      Some(s"""WITH g AS (SELECT l_returnflag,
              | CAST(count(*) AS DOUBLE) AS n,
              | ${dsumSql("l_quantity")} AS sx, ${dsumSql("l_extendedprice")} AS sy,
              | ${dsumSql("l_quantity * l_extendedprice")} AS sxy,
              | ${dsumSql("l_quantity * l_quantity")} AS sxx,
              | ${dsumSql("l_extendedprice * l_extendedprice")} AS syy
              |FROM lineitem GROUP BY 1)
              |SELECT l_returnflag,
              | round((n*sxy - sx*sy) / (n*sxx - sx*sx), 9) AS slope,
              | round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 9) AS intercept,
              | round((n*sxy - sx*sy) * (n*sxy - sx*sy)
              |   / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 9) AS r2
              |FROM g ORDER BY l_returnflag""".stripMargin)),

    // Batch MERGE (CDC upsert without a lakehouse format): target =
    // latest purchase per user before the cutoff, source = changes after
    // it. MATCHED → update value/ts, NOT MATCHED → insert; target rows
    // with no change survive untouched. One full-outer join + coalesce.
    Op("cdc_merge_upsert", (s, dir) => {
      val cutoff = lit("2024-01-08 00:00:00").cast("timestamp")
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(max_by(
          struct(col("ts"), col("event_id"), col("value")),
          struct(col("ts"), col("event_id"))).as("r"))
          .select(col("user_id"), col("r.ts").as("ts"), col("r.value").as("value"))
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val target = latest(ev.filter(col("ts") < cutoff))
        .withColumnRenamed("ts", "t_ts").withColumnRenamed("value", "t_value")
      val source = latest(ev.filter(col("ts") >= cutoff))
        .withColumnRenamed("ts", "s_ts").withColumnRenamed("value", "s_value")
      target.join(source, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("s_ts"), col("t_ts")).as("ts"),
          coalesce(col("s_value"), col("t_value")).as("value"),
          when(col("t_ts").isNull, "insert")
            .when(col("s_ts").isNull, "keep").otherwise("update").as("action"))
        .orderBy("user_id")
    },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
             |  FROM events WHERE event_type = 'purchase'),
             | target AS (SELECT user_id, ts AS t_ts, value AS t_value FROM (
             |   SELECT *, row_number() OVER (PARTITION BY user_id
             |     ORDER BY ts DESC, event_id DESC) AS rk
             |   FROM ev WHERE ts < TIMESTAMP '2024-01-08 00:00:00') WHERE rk = 1),
             | source AS (SELECT user_id, ts AS s_ts, value AS s_value FROM (
             |   SELECT *, row_number() OVER (PARTITION BY user_id
             |     ORDER BY ts DESC, event_id DESC) AS rk
             |   FROM ev WHERE ts >= TIMESTAMP '2024-01-08 00:00:00') WHERE rk = 1)
             |SELECT coalesce(target.user_id, source.user_id) AS user_id,
             | coalesce(s_ts, t_ts) AS ts,
             | coalesce(s_value, t_value) AS value,
             | CASE WHEN t_ts IS NULL THEN 'insert'
             |      WHEN s_ts IS NULL THEN 'keep' ELSE 'update' END AS action
             |FROM target FULL OUTER JOIN source ON target.user_id = source.user_id
             |ORDER BY user_id""".stripMargin)),

    // Ordered conversion funnel view → click → purchase: per user, the
    // first view, the first click strictly AFTER it, the first purchase
    // strictly after that — the chained-first-occurrence relational
    // funnel (Spark has no MATCH_RECOGNIZE). t1 and t2 are whole-user
    // window minima and t3 a per-user aggregate, all on ONE user_id hash
    // exchange (pre-bucketing events by user makes it a co-located scan);
    // a user missing a step has a null there, so each step count is
    // count(column) over the per-user rows, and a final 1-row aggregate
    // replaces the old three self-joins and cross-joined step counts.
    // Time-to-convert sums exact integer micros — engine-identical
    // division at the end, null when no user converts.
    Op("funnel_steps", (s, dir) => {
      val user = Window.partitionBy("user_id")
      val ts = col("ts")
      def firstOf(typ: String, after: Column = lit(true)): Column =
        min(when(col("event_type") === typ && after, ts))
      val steps = events(s, dir).select("user_id", "ts", "event_type")
        .withColumn("t1", firstOf("view").over(user))
        .withColumn("t2", firstOf("click", ts > col("t1")).over(user))
        .groupBy("user_id")
        .agg(min("t1").as("t1"), min("t2").as("t2"),
          firstOf("purchase", ts > col("t2")).as("t3"))
      steps.agg(count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click_after_view"),
        count(col("t3")).as("n_purchase_after_click"),
        round(sum(unix_micros(col("t3")) - unix_micros(col("t1")))
          / count(col("t3")) / lit(1000000.0), 6).as("avg_view_to_purchase_s"))
    },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             | t1 AS (SELECT user_id, min(ts) AS t1 FROM e
             |   WHERE event_type = 'view' GROUP BY 1),
             | t2 AS (SELECT e.user_id, min(t1.t1) AS t1, min(e.ts) AS t2
             |   FROM e JOIN t1 USING (user_id)
             |   WHERE event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
             | t3 AS (SELECT e.user_id, min(t2.t1) AS t1, min(e.ts) AS t3
             |   FROM e JOIN t2 USING (user_id)
             |   WHERE event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
             |SELECT (SELECT count(*) FROM t1) AS n_view,
             | (SELECT count(*) FROM t2) AS n_click_after_view,
             | (SELECT count(*) FROM t3) AS n_purchase_after_click,
             | (SELECT round(sum(epoch_us(t3) - epoch_us(t1)) / count(*) / 1000000.0, 6)
             |  FROM t3) AS avg_view_to_purchase_s""".stripMargin)),

    // OHLC downsampling: open/high/low/close of `value` per user per
    // 1-hour tumbling window — the classic time-series compaction
    // (candlesticks, metric rollups) that turns an unbounded event feed
    // into fixed-width rows. open/close pick by event time via
    // min_by/max_by; (user_id, ts) is unique in this feed so the pick is
    // deterministic (a feed with ts ties would tie-break on a sequence
    // id, as cdc_merge_upsert does). One two-phase hash agg: every
    // accumulator — min/max/count and the (value, ts) pairs min_by and
    // max_by carry — folds map-side to constant state per (user, window)
    // regardless of window population, so the single exchange moves one
    // partial row per (user, window, map task), never raw events.
    Op("window_ohlc", (s, dir) =>
      ohlcWindows(events(s, dir), "1 hour").orderBy("user_id", "w_start"),
      Some("""SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
             | arg_min(value, ts) AS open_value, max(value) AS high_value,
             | min(value) AS low_value, arg_max(value, ts) AS close_value,
             | count(*) AS n_events
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-stream EWMA (α = 1/2) — a genuinely RECURSIVE op (s_t depends
    // on s_{t-1}, inexpressible as any window frame) done exactly: each
    // (user, type) stream's values collect into one time-ordered array
    // (bounded per key — the same per-key-state contract as the
    // sessionizers) and fold on the INTEGER LATTICE, s ← (s + v) div 2
    // in 1e-4 micro-units. No float ever enters, so the fold is
    // bit-identical across engines/partitionings; DuckDB replays it with
    // list_reduce and the identical truncating integer division. At
    // scale this is per-key bounded memory and one exchange; an
    // unbounded stream would run the same recurrence in
    // transformWithState instead.
    // Day-of-week × hour activity profile per event type — the calendar
    // heatmap every event pipeline reports. One two-phase hash agg over
    // 7×24×|types| cells: the projection (dow, hour) is scan-stage
    // arithmetic, the accumulators fold map-side, and the single
    // exchange moves ≤ one partial row per cell per task regardless of
    // event volume. Spark dayofweek is 1=Sunday; the oracle shifts
    // DuckDB's 0=Sunday to match.
    Op("ts_dow_hour_profile", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
        .orderBy("event_type", "dow", "hr"),
      Some(s"""SELECT event_type,
              | CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
              | CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
              | count(*) AS n_events, ${dsum6Sql("value")} AS sum_value
              |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Seasonal decomposition (classical additive, weekly period): the
    // hourly series minus its (dow × hour) seasonal profile leaves the
    // residual an anomaly detector actually monitors — raw traffic
    // series are dominated by daily/weekly rhythm, and ts_anomaly_sigma
    // on the RAW series flags every Monday 9am instead of real shifts.
    // Shape: one events pass → hourly buckets (two-phase hash agg,
    // DECIMAL-exact), then the 168-row profile aggregates FROM THE
    // BUCKETS (not the raw events — at 100 TB the second pass touches
    // only |hours| rows) and broadcasts back onto them. Determinism:
    // bucket sums ride dsum6; the profile mean divides an exact DECIMAL
    // sum by an exact count, terminally rounded before the residual
    // subtraction (one IEEE op on two 6-dp-rounded doubles).
    Op("ts_seasonal_decompose", (s, dir) =>
      seasonalFrame(s, dir).orderBy("hour_ts"),
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
             |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS actual
             |  FROM events GROUP BY 1),
             | h2 AS (SELECT hour_ts, CAST(dayofweek(hour_ts) + 1 AS INT) AS dow,
             |    CAST(hour(hour_ts) AS INT) AS hr, actual FROM hourly),
             | prof AS (SELECT dow, hr,
             |    round(CAST(sum(CAST(actual AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             |      AS expected
             |  FROM h2 GROUP BY 1, 2)
             |SELECT h2.hour_ts, h2.dow, h2.hr, h2.actual, prof.expected,
             | round(h2.actual - prof.expected, 6) AS residual
             |FROM h2 JOIN prof USING (dow, hr) ORDER BY hour_ts""".stripMargin)),

    // SEASONAL-STRENGTH READOUT (round 10) — Hyndman's F_s = max(0,
    // 1 − Var(residual)/Var(actual)) over the decompose frame: the
    // one-number answer to "is this stream actually seasonal, or is
    // the dow×hour profile fitting noise?" (gates whether forecasting
    // keys should difference seasonally). Variances from exact
    // DECIMAL(18,6) sums over the bounded hourly frame (the inputs are
    // 6-dp-released already), final arithmetic one IEEE tree. 1-row
    // release; everything past the shared hourly agg is grid-sized.
    // THEIL–SEN ROBUST TREND (round 10) — the median-of-pairwise-slopes
    // estimator (Sen 1968): up to ~29% of hours can be corrupted
    // (outages, bot bursts, backfill spikes) before the trend estimate
    // moves, where the OLS slope (agg_regression) chases every outlier.
    // Runs on the bounded HOURLY aggregate, never events: the pair
    // frame is grid² (720 hours/month → 259k slope rows at sf0.1 —
    // self-joined aggregate, the skyline_pareto bound class; a year is
    // 38M pairs, still executor-trivial, and the documented larger-grid
    // fallback is the repeated-median variant on a coarser grid).
    // Exactness: slopes are one IEEE division over dsum6-exact hourly
    // values and integer hour indices; the median is the exact
    // percentile ↔ quantile_cont pairing (agg_percentile precedent);
    // the intercept is median(y − slope·x) with the 1-row slope frame
    // broadcast back.
    Op("ts_theil_sen", (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(round(dsum6(col("value")), 6).as("y"))
        .select(expr("unix_micros(hour_ts) div 3600000000").as("x"),
          col("y"))
      val a = hourly.select(col("x").as("x1"), col("y").as("y1"))
      val b = hourly.select(col("x").as("x2"), col("y").as("y2"))
      val slopes = a.join(b, col("x1") < col("x2"))
        .select(((col("y2") - col("y1")) / (col("x2") - col("x1")))
          .as("slope"))
      val med = slopes.agg(count(lit(1)).as("n_pairs"),
        percentile(col("slope"), lit(0.5)).as("m_slope"))
      val icpt = hourly.crossJoin(broadcast(med))
        .agg(first(col("n_pairs")).as("n_pairs"),
          first(col("m_slope")).as("m_slope"),
          count(lit(1)).as("n_hours"),
          percentile(col("y") - col("m_slope") * col("x"), lit(0.5))
            .as("m_icpt"))
      icpt.select(col("n_hours"), col("n_pairs"),
        round(col("m_slope"), 9).as("slope"),
        round(col("m_icpt"), 6).as("intercept"))
    },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
             |      AS BIGINT) // 3600000000 AS x,
             |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS y
             |  FROM events GROUP BY 1),
             | slopes AS (SELECT (b.y - a.y) / (b.x - a.x) AS slope
             |  FROM hourly a JOIN hourly b ON a.x < b.x),
             | med AS (SELECT count(*) AS n_pairs,
             |   quantile_cont(slope, 0.5) AS m_slope FROM slopes),
             | icpt AS (SELECT max(n_pairs) AS n_pairs, max(m_slope) AS m_slope,
             |   count(*) AS n_hours,
             |   quantile_cont(y - m_slope * x, 0.5) AS m_icpt
             |  FROM hourly CROSS JOIN med)
             |SELECT CAST(n_hours AS BIGINT) AS n_hours,
             | CAST(n_pairs AS BIGINT) AS n_pairs,
             | round(m_slope, 9) AS slope, round(m_icpt, 6) AS intercept
             |FROM icpt""".stripMargin)),

    // MANN–KENDALL TREND TEST (round 10) — Theil–Sen's inseparable
    // companion (the pair always reported together: MK decides IF a
    // monotone trend exists, Theil–Sen says how steep): S = Σ_{i<j}
    // sign(y_j − y_i) over the same bounded hourly grid, variance with
    // the tie correction Var(S) = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18,
    // z with the ±1 continuity correction. Exactness: S and both tie
    // masses are EXACT INTEGERS (a sign fold and a value-count agg);
    // z is one IEEE tree over them. Shape: one corpus pass (hourly
    // agg), grid² sign pairs, two 1-row frames crossed.
    Op("ts_mann_kendall", (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(round(dsum6(col("value")), 6).as("y"))
        .select(expr("unix_micros(hour_ts) div 3600000000").as("x"),
          col("y"))
      val a = hourly.select(col("x").as("x1"), col("y").as("y1"))
      val b = hourly.select(col("x").as("x2"), col("y").as("y2"))
      val sPair = a.join(b, col("x1") < col("x2"))
        .agg(sum(signum(col("y2") - col("y1")).cast("long")).as("s"))
      val ties = hourly.groupBy("y").agg(count(lit(1)).as("t"))
        .agg(count(lit(1)).cast("long").as("n_distinct"),
          sum(col("t")).as("n"),
          sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tmass"))
      val n = col("n").cast("double")
      val varS = (n * (n - lit(1.0)) * (n * 2.0 + lit(5.0))
        - col("tmass").cast("double")) / lit(18.0)
      val sD = col("s").cast("double")
      val z = when(col("s") > 0, (sD - lit(1.0)) / sqrt(varS))
        .when(col("s") < 0, (sD + lit(1.0)) / sqrt(varS))
        .otherwise(lit(0.0))
      sPair.crossJoin(ties)
        .select(col("n").as("n_hours"), col("s").as("s_stat"),
          round(varS, 6).as("var_s"), round(z, 6).as("z"),
          (abs(round(z, 6)) > lit(1.96)).as("is_trending"))
    },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
             |      AS BIGINT) // 3600000000 AS x,
             |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS y
             |  FROM events GROUP BY 1),
             | sp AS (SELECT CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT)
             |    AS s
             |  FROM hourly a JOIN hourly b ON a.x < b.x),
             | ties AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct,
             |   CAST(sum(t) AS BIGINT) AS n,
             |   CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tmass
             |  FROM (SELECT y, count(*) AS t FROM hourly GROUP BY 1)),
             | v AS (SELECT s, n,
             |   (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
             |     * (CAST(n AS DOUBLE) * 2.0 + 5.0)
             |     - CAST(tmass AS DOUBLE)) / 18.0 AS var_s
             |  FROM sp CROSS JOIN ties),
             | zz AS (SELECT n, s, var_s,
             |   CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
             |     WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
             |     ELSE 0.0 END AS z
             |  FROM v)
             |SELECT n AS n_hours, s AS s_stat, round(var_s, 6) AS var_s,
             | round(z, 6) AS z, (abs(round(z, 6)) > 1.96) AS is_trending
             |FROM zz""".stripMargin)),

    // LEAD/LAG CROSS-CORRELATION (the "does clicking now buy later?"
    // readout): Pearson corr between the click hourly series at t and
    // the purchase series at t+lag, lag 0..6 h — the classic
    // cross-correlogram a growth team reads before fitting any causal
    // model. Corpus touched once by the hourly agg; everything after is
    // the bounded calendar grid (≤720 rows/month) self-joined at 7
    // offsets on the integer HOUR INDEX (epoch/3600 — no interval
    // arithmetic to disagree on). Moments accumulate as DECIMAL(28,6)
    // lattice sums (the agg_corr_matrix rule: scale 6 keeps the
    // double→decimal snap inside the double's 17 significant digits, so
    // both engines snap product doubles identically); zero-variance
    // lags release NULL, not ±Inf.
    Op("ts_lead_lag_corr", (s, dir) => {
      val dec = "decimal(28,6)"
      val hourly = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"),
          (date_trunc("hour", col("ts")).cast("long") / 3600).cast("long")
            .as("hi"))
        .agg(round(dsum6(col("value")), 6).as("v"))
      val x = hourly.filter(col("event_type") === "click")
        .select(col("hi"), col("v").as("x"))
      val y = hourly.filter(col("event_type") === "purchase")
        .select(col("hi").as("hiy"), col("v").as("y"))
      val lags = broadcast(s.range(0, 7).select(col("id").cast("int").as("lag")))
      val m = x.crossJoin(lags)
        .join(y, col("hiy") === col("hi") + col("lag"))
        .groupBy("lag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x").cast(dec)).cast("double").as("sx"),
          sum(col("y").cast(dec)).cast("double").as("sy"),
          sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
          sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      m.select(col("lag"), col("n").cast("long").as("n_hours"),
          when(vx > 0.0 && vy > 0.0,
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / sqrt(vx * vy), 6)).as("xcorr"))
        .orderBy("lag")
    },
      Some("""WITH hourly AS (SELECT event_type,
             |   CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
             |     // 3600000000 AS hi,
             |   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
             |  FROM events WHERE event_type IN ('click', 'purchase')
             |  GROUP BY 1, 2),
             | x AS (SELECT hi, v AS x FROM hourly WHERE event_type = 'click'),
             | y AS (SELECT hi AS hiy, v AS y FROM hourly
             |  WHERE event_type = 'purchase'),
             | lags AS (SELECT CAST(unnest(generate_series(0, 6)) AS INT) AS lag),
             | m AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
             |   CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             |   CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             |   CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
             |   CAST(sum(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
             |   CAST(sum(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
             |  FROM x CROSS JOIN lags JOIN y ON hiy = hi + lag GROUP BY 1)
             |SELECT lag, CAST(n AS BIGINT) AS n_hours,
             | CASE WHEN (n * sxx - sx * sx) > 0.0 AND (n * syy - sy * sy) > 0.0
             |   THEN round((n * sxy - sx * sy)
             |     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             |   END AS xcorr
             |FROM m ORDER BY lag""".stripMargin)),

    Op("ts_seasonal_strength", (s, dir) => {
      // DECIMAL(28,12), not (18,6): `actual` (6dp) squares to 12dp — exact
      // on the wide lattice — and (18,6)'s 12 integer digits overflow once
      // actual > 1e6, i.e. the cast is a scale cliff the SS accumulators
      // avoid; 16 integer digits push the cliff past any realistic sf.
      val dec = "decimal(28,12)"
      val st = seasonalFrame(s, dir).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("actual").cast(dec)).cast("double").as("sa"),
        sum((col("actual") * col("actual")).cast(dec)).cast("double")
          .as("saa"),
        sum(col("residual").cast(dec)).cast("double").as("sr"),
        sum((col("residual") * col("residual")).cast(dec)).cast("double")
          .as("srr"))
      val va = (col("saa") - col("sa") * col("sa") / col("n")) /
        (col("n") - lit(1.0))
      val vr = (col("srr") - col("sr") * col("sr") / col("n")) /
        (col("n") - lit(1.0))
      st.select(col("n").cast("long").as("n_hours"),
        round(va, 6).as("var_actual"), round(vr, 6).as("var_residual"),
        round(greatest(lit(0.0), lit(1.0) - vr / va), 6)
          .as("seasonal_strength"))
    },
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
             |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS actual
             |  FROM events GROUP BY 1),
             | h2 AS (SELECT hour_ts, CAST(dayofweek(hour_ts) + 1 AS INT) AS dow,
             |    CAST(hour(hour_ts) AS INT) AS hr, actual FROM hourly),
             | prof AS (SELECT dow, hr,
             |    round(CAST(sum(CAST(actual AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             |      AS expected
             |  FROM h2 GROUP BY 1, 2),
             | f AS (SELECT h2.actual,
             |    round(h2.actual - prof.expected, 6) AS residual
             |   FROM h2 JOIN prof USING (dow, hr)),
             | st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |   CAST(sum(CAST(actual AS DECIMAL(28,12))) AS DOUBLE) AS sa,
             |   CAST(sum(CAST(actual * actual AS DECIMAL(28,12))) AS DOUBLE) AS saa,
             |   CAST(sum(CAST(residual AS DECIMAL(28,12))) AS DOUBLE) AS sr,
             |   CAST(sum(CAST(residual * residual AS DECIMAL(28,12))) AS DOUBLE) AS srr
             |  FROM f),
             | v AS (SELECT n, (saa - sa * sa / n) / (n - 1.0) AS va,
             |   (srr - sr * sr / n) / (n - 1.0) AS vr FROM st)
             |SELECT CAST(n AS BIGINT) AS n_hours, round(va, 6) AS var_actual,
             | round(vr, 6) AS var_residual,
             | round(greatest(0.0, 1.0 - vr / va), 6) AS seasonal_strength
             |FROM v""".stripMargin)),

    Op("ts_ewma", (s, dir) =>
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("vi"))))
            .as("evs"))
        .withColumn("vis", expr("transform(evs, e -> e.vi)"))
        .select(col("user_id"), col("event_type"), col("n_events"),
          expr("aggregate(slice(vis, 2, size(vis)), vis[0]," +
            " (acc, x) -> (acc + x) div 2)").as("ewma_micro"))
        .orderBy("user_id", "event_type"),
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts2,
             |   event_id, CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi
             | FROM events),
             |g AS (SELECT user_id, event_type, count(*) AS n_events,
             |   list(vi ORDER BY ts2, event_id) AS vis FROM e GROUP BY 1, 2)
             |SELECT user_id, event_type, n_events,
             | list_reduce(vis, (acc, x) -> (acc + x) // 2) AS ewma_micro
             |FROM g ORDER BY user_id, event_type""".stripMargin)),

    // DEBOUNCE / rate-limit thinning — keep an event only if ≥ 10 min
    // have passed since the last KEPT event (dedup of bursty repeats:
    // retry storms, double-clicks, sensor chatter). Genuinely recursive
    // — whether a row survives depends on which earlier rows survived —
    // so like ts_ewma/ts_holt it runs as a per-key time-ordered fold on
    // the exact integer-µs lattice (struct accumulator: last-kept ts +
    // kept count), one (user) exchange. The oracle replays the fold as
    // a RECURSIVE CTE stepping rn → rn+1. The streaming twin
    // (StreamingDebounce) holds the same 2-long state per key forever —
    // O(1), the throttle/suppress shape of a stream processor.
    Op("ts_debounce", (s, dir) =>
      events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"), col("event_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("tu"), col("event_id"))))
            .as("evs"))
        .withColumn("tss", expr("transform(evs, e -> e.tu)"))
        .select(col("user_id"), col("n_events"),
          expr("aggregate(slice(tss, 2, size(tss))," +
            " named_struct('last', tss[0], 'n', CAST(1 AS BIGINT))," +
            " (acc, x) -> IF(x >= acc.last + 600000000," +
            "   named_struct('last', x, 'n', acc.n + 1), acc)).n")
            .as("n_kept"))
        .orderBy("user_id"),
      Some("""WITH RECURSIVE e AS (SELECT user_id,
             |   epoch_us(CAST(ts AS TIMESTAMP)) AS tu, event_id FROM events),
             |o AS (SELECT user_id, tu, row_number() OVER (
             |   PARTITION BY user_id ORDER BY tu, event_id) AS rn FROM e),
             |n AS (SELECT user_id, count(*) AS n_events FROM o GROUP BY 1),
             |r AS (
             | SELECT user_id, rn, tu AS last, CAST(1 AS BIGINT) AS n
             | FROM o WHERE rn = 1
             | UNION ALL
             | SELECT o.user_id, o.rn,
             |  CASE WHEN o.tu >= r.last + 600000000 THEN o.tu ELSE r.last END,
             |  CASE WHEN o.tu >= r.last + 600000000 THEN r.n + 1 ELSE r.n END
             | FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
             |SELECT n.user_id, n.n_events, r.n AS n_kept
             |FROM r JOIN n ON r.user_id = n.user_id AND r.rn = n.n_events
             |ORDER BY n.user_id""".stripMargin)),

    // Pairwise Pearson correlation matrix per group from the same
    // exact-DECIMAL sufficient statistics as agg_regression (never the
    // built-in corr(), whose double accumulation is summation-order-
    // dependent): ONE two-phase hash agg computes all ten sums, the
    // correlation arithmetic runs on exact values per group — identical
    // doubles in both engines, partition-count invariant. The shape is
    // the standard "feature-stats pass" of a training pipeline: adding
    // columns widens the map-side accumulator row, never adds a pass.
    Op("agg_corr_matrix", (s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val z = col("l_discount")
      val g = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"), dsum6(z).as("sz"),
        dsum(x * y).as("sxy"), dsum6(x * z).as("sxz"), dsum6(y * z).as("syz"),
        dsum(x * x).as("sxx"), dsum(y * y).as("syy"), dsum6(z * z).as("szz"))
      def corrOf(sa: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column,
          sab: org.apache.spark.sql.Column, saa: org.apache.spark.sql.Column,
          sbb: org.apache.spark.sql.Column) =
        round((col("n") * sab - sa * sb) /
          sqrt((col("n") * saa - sa * sa) * (col("n") * sbb - sb * sb)), 6)
      g.select(col("l_returnflag"),
          corrOf(col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
            .as("corr_qty_price"),
          corrOf(col("sx"), col("sz"), col("sxz"), col("sxx"), col("szz"))
            .as("corr_qty_disc"),
          corrOf(col("sy"), col("sz"), col("syz"), col("syy"), col("szz"))
            .as("corr_price_disc"))
        .orderBy("l_returnflag")
    },
      Some(s"""WITH g AS (SELECT l_returnflag,
              |  CAST(count(*) AS DOUBLE) AS n,
              |  ${dsumSql("l_quantity")} AS sx, ${dsumSql("l_extendedprice")} AS sy,
              |  ${dsum6Sql("l_discount")} AS sz,
              |  ${dsumSql("l_quantity * l_extendedprice")} AS sxy,
              |  ${dsum6Sql("l_quantity * l_discount")} AS sxz,
              |  ${dsum6Sql("l_extendedprice * l_discount")} AS syz,
              |  ${dsumSql("l_quantity * l_quantity")} AS sxx,
              |  ${dsumSql("l_extendedprice * l_extendedprice")} AS syy,
              |  ${dsum6Sql("l_discount * l_discount")} AS szz
              | FROM lineitem GROUP BY 1)
              |SELECT l_returnflag,
              | round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price,
              | round((n*sxz - sx*sz) / sqrt((n*sxx - sx*sx) * (n*szz - sz*sz)), 6) AS corr_qty_disc,
              | round((n*syz - sy*sz) / sqrt((n*syy - sy*sy) * (n*szz - sz*sz)), 6) AS corr_price_disc
              |FROM g ORDER BY l_returnflag""".stripMargin)),

    // Trailing-window 3σ anomaly detection per (user, event_type) stream:
    // flag events whose value deviates from the mean of the previous ≤20
    // same-stream events by more than 3 sample deviations. The entire
    // predicate runs on the INTEGER LATTICE (value → exact 1e-4
    // micro-units via the same DECIMAL(18,4) cast the dsum keys pin),
    // with the z-test algebraically cleared of divisions:
    //   (v−μ)² > 9σ²  ⇔  (v·n − Σx)² > 9·(n·Σx² − (Σx)²)
    // so no float, no sqrt, no division ever enters — bit-identical
    // across engines, partitionings, and runs (bounds: |v| ≤ 1e5 ⇒
    // every term ≤ ~2.3e18 < 2⁶³). The current row is EXCLUDED from its
    // own baseline (frame ends at −1) so a spike can't mask itself.
    // Scale: one window keyed by (user, type) — millions of independent
    // partitions at corpus scale, each a bounded 20-row rolling state;
    // nothing global, one exchange.
    // ROBUST anomaly detection — TUKEY FENCES over the trailing frame:
    // flag a reading outside [q1 − 1.5·IQR, q3 + 1.5·IQR] of its own
    // trailing 20 observations (min 10). The robust twin of
    // ts_anomaly_sigma: one wild spike inflates a trailing σ and masks
    // the next spike, but barely moves the quartiles — the classic
    // failure mode of z-score monitors. Exactness: quartiles of a ≤20-
    // double frame interpolate identically cross-engine (the
    // percentile ↔ quantile_cont pairing agg_percentile pins) and the
    // fence comparison is correctly-rounded arithmetic on them. Same
    // one-exchange per-key window shape as the sigma twin.
    Op("ts_anomaly_iqr", (s, dir) => {
      val fr = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-20, -1)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
        .withColumn("cnt", count(lit(1)).over(fr))
        .withColumn("q1", percentile(col("value"), lit(0.25)).over(fr))
        .withColumn("q3", percentile(col("value"), lit(0.75)).over(fr))
        .filter(col("cnt") >= 10 &&
          (col("value") > col("q3") + lit(1.5) * (col("q3") - col("q1")) ||
            col("value") < col("q1") - lit(1.5) * (col("q3") - col("q1"))))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"))
        .orderBy("event_id")
    },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, value,
             |   CAST(ts AS TIMESTAMP) AS ts FROM events),
             | w AS (SELECT event_id, user_id, event_type, value,
             |   count(*) OVER fr AS cnt,
             |   quantile_cont(value, 0.25) OVER fr AS q1,
             |   quantile_cont(value, 0.75) OVER fr AS q3
             |  FROM e WINDOW fr AS (PARTITION BY user_id, event_type
             |   ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
             |SELECT event_id, user_id, event_type, value,
             | round(q1, 6) AS q1, round(q3, 6) AS q3
             |FROM w
             |WHERE cnt >= 10 AND (value > q3 + 1.5 * (q3 - q1)
             |  OR value < q1 - 1.5 * (q3 - q1))
             |ORDER BY event_id""".stripMargin)),

    Op("ts_anomaly_sigma", (s, dir) => {
      val fr = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-20, -1)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          col("ts"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .withColumn("cnt", count(lit(1)).over(fr))
        .withColumn("sx", sum(col("vi")).over(fr))
        .withColumn("sxx", sum(col("vi") * col("vi")).over(fr))
        .filter(col("cnt") >= 10 &&
          (col("vi") * col("cnt") - col("sx")) * (col("vi") * col("cnt") - col("sx")) >
            lit(9L) * (col("cnt") * col("sxx") - col("sx") * col("sx")))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, value,
             |   CAST(ts AS TIMESTAMP) AS ts2,
             |   CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi
             | FROM events),
             |w AS (SELECT event_id, user_id, event_type, value, vi,
             |   count(*) OVER fr AS cnt,
             |   CAST(sum(vi) OVER fr AS BIGINT) AS sx,
             |   CAST(sum(vi * vi) OVER fr AS BIGINT) AS sxx
             | FROM e
             | WINDOW fr AS (PARTITION BY user_id, event_type ORDER BY ts2, event_id
             |   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
             |SELECT event_id, user_id, event_type, value FROM w
             |WHERE cnt >= 10
             | AND (vi * cnt - sx) * (vi * cnt - sx) > 9 * (cnt * sxx - sx * sx)
             |ORDER BY event_id""".stripMargin)),

    // Modal value per key (most frequent event_type per user) with a
    // deterministic lexicographic tie-break — the built-in `mode()` keeps
    // an arbitrary tied winner, which is engine- and partitioning-
    // unstable, so the portable form is a (user, type) count plus a
    // 1-row-per-group window pick. Scale: the first exchange carries
    // map-side PARTIAL counts (≤ |types| rows per map task per user, not
    // events); the window's exchange re-keys the finished aggregate —
    // |users|·|types| rows — so nothing corpus-sized moves twice.
    Op("agg_mode", (s, dir) => {
      val counts = events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("cnt").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("cnt"))
        .orderBy("user_id")
    },
      Some("""SELECT user_id, event_type AS mode_type, cnt FROM (
             | SELECT user_id, event_type, count(*) AS cnt,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY count(*) DESC, event_type) AS rn
             | FROM events GROUP BY 1, 2)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Last-touch attribution: each purchase credits the most recent click
    // strictly before it (in (ts, event_id) order — the id tiebreak makes
    // same-microsecond ordering deterministic) and within a 7-day
    // lookback. The Spark-first shape is NOT a self-join: tag the two
    // event kinds in one pass and take last(click_ts, ignoreNulls) over
    // an UNBOUNDED..-1 row frame per user — one raw-event exchange on
    // user_id, no join, no second scan. The lag is exact integer
    // microseconds (no per-row float division → no cross-engine rounding
    // edge). Scale: the running last-click state is O(1) per row and the
    // window never buffers the frame (last over a growing frame is
    // incremental), so per-user timeline length doesn't change memory.
    Op("funnel_attribution", (s, dir) => {
      val ev = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("lag_us",
          unix_micros(col("ts")) - unix_micros(col("last_click_ts")))
        .withColumn("attributed",
          col("last_click_ts").isNotNull &&
            col("lag_us") <= lit(7L * 24 * 3600 * 1000000L))
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
          when(col("attributed"), col("last_click_ts")).as("click_ts"),
          col("attributed"),
          when(col("attributed"), col("lag_us")).as("lag_us"))
        .orderBy("event_id")
    },
      Some("""WITH e AS (
             | SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             | FROM events WHERE event_type IN ('click', 'purchase')),
             |a AS (
             | SELECT event_id, user_id, ts, event_type,
             |  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
             |   OVER (PARTITION BY user_id ORDER BY ts, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |   AS last_click_ts
             | FROM e),
             |b AS (
             | SELECT *, epoch_us(ts) - epoch_us(last_click_ts) AS raw_lag,
             |  last_click_ts IS NOT NULL AND
             |   epoch_us(ts) - epoch_us(last_click_ts) <= 604800000000 AS attributed
             | FROM a WHERE event_type = 'purchase')
             |SELECT event_id, user_id, ts AS purchase_ts,
             | CASE WHEN attributed THEN last_click_ts END AS click_ts, attributed,
             | CASE WHEN attributed THEN raw_lag END AS lag_us
             |FROM b ORDER BY event_id""".stripMargin)),

    // Cohort retention triangle: users cohorted by the ISO week of their
    // first event; each later active week counts them once at its offset
    // — the table every product-analytics retention chart is drawn from.
    // first-seen rides a min-over-user window (no self-join back onto
    // the feed), and week arithmetic is integer day-diffs (floor(Δd/7))
    // so offsets are bit-identical in any engine. Scale: one raw-event
    // exchange for the user window; the distinct-user rollup then
    // two-phases over (cohort, offset, user) — map-side dedup means the
    // agg exchanges carry at most one row per user-week, not events.
    Op("cohort_retention", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
      val w = Window.partitionBy("user_id")
      ev.withColumn("first_d", min(col("d")).over(w))
        .select(
          to_date(date_trunc("week", col("first_d"))).as("cohort_week"),
          floor(datediff(col("d"), col("first_d")) / 7).cast("int")
            .as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },
      Some("""WITH ev AS (
             | SELECT user_id, CAST(ts AS DATE) AS d,
             |  min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_d
             | FROM events)
             |SELECT CAST(date_trunc('week', first_d) AS DATE) AS cohort_week,
             | CAST(floor(datediff('day', first_d, d) / 7) AS INT) AS week_offset,
             | count(DISTINCT user_id) AS n_active
             |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Cohort LTV triangle — cohort_retention's revenue twin: users
    // cohorted by first-activity week, purchase value rolled up per
    // (cohort, week offset), plus the RUNNING cumulative value per
    // cohort (the lifetime-value curve every growth report plots).
    // The cumulative sum runs in DECIMAL over the already-exact weekly
    // sums — no float accumulation order anywhere — and the window's
    // frame is the aggregated triangle (|cohorts|·|offsets| rows), not
    // events. Same scale shape as cohort_retention: one raw-event
    // exchange for the first-seen window, then aggregate-sized frames.
    Op("cohort_ltv", (s, dir) => {
      val w = Window.partitionBy("user_id")
      val tri = events(s, dir)
        .withColumn("first_d", min(to_date(col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          to_date(date_trunc("week", col("first_d"))).as("cohort_week"),
          floor(datediff(to_date(col("ts")), col("first_d")) / 7).cast("int")
            .as("week_offset"),
          col("value"))
        .groupBy("cohort_week", "week_offset")
        .agg(dsum6(col("value")).as("week_value"))
      val wc = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tri.withColumn("cum_value",
          sum(col("week_value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .over(wc).cast("double"))
        .orderBy("cohort_week", "week_offset")
    },
      Some(s"""WITH ev AS (
              | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2, event_type, value,
              |  min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_d
              | FROM events),
              |tri AS (
              | SELECT CAST(date_trunc('week', first_d) AS DATE) AS cohort_week,
              |  CAST(floor(datediff('day', first_d, CAST(ts2 AS DATE)) / 7) AS INT)
              |    AS week_offset,
              |  ${dsum6Sql("value")} AS week_value
              | FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
              |SELECT cohort_week, week_offset, week_value,
              | CAST(sum(CAST(week_value AS DECIMAL(18,6))) OVER (
              |   PARTITION BY cohort_week ORDER BY week_offset
              |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              |  AS cum_value
              |FROM tri ORDER BY cohort_week, week_offset""".stripMargin)),

    // Longest consecutive-day purchase streak per user — the classic
    // gaps-and-islands shape (gamified streaks, SLA uptime runs,
    // consecutive-day actives). Island id = day-number minus the row
    // number of that day within the user's ordered distinct days: pure
    // integer arithmetic, so the grouping key is engine-portable with no
    // interval/timezone semantics in play. Scale: the distinct collapses
    // the feed to ≤ one row per (user, day) BEFORE the window (map-side
    // partial distinct), and the two follow-up aggs reuse the window's
    // user_id hash partitioning — day-rows shuffle once, events never do.
    Op("ts_activity_streak", (s, dir) => {
      val days = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("dn"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("dn")
      days.withColumn("anchor", col("dn") - row_number().over(w))
        .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("max_streak_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },
      Some("""WITH days AS (
             | SELECT DISTINCT user_id,
             |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
             | FROM events WHERE event_type = 'purchase'),
             |isl AS (
             | SELECT user_id,
             |  dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS anchor
             | FROM days),
             |runs AS (
             | SELECT user_id, anchor, count(*) AS len FROM isl GROUP BY 1, 2)
             |SELECT user_id, max(len) AS max_streak_days, count(*) AS n_streaks
             |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Linear interpolation over a dense hourly grid (time-series repair):
    // sparse observed points (hourly purchase sums) are stretched onto the
    // gap-filled grid, and every missing bucket gets the value on the
    // straight line between its nearest observed neighbors. The bracketing
    // neighbors come from two running windows, the previous one from
    // last IGNORE NULLS up to the row and the next one from
    // `nextNonNull`'s mirrored running frame (buckets are unique per user,
    // so it equals first IGNORE NULLS over the following rows without that
    // frame's O(n²) re-evaluation) — no self-join, no per-gap scan; the
    // grid rides ONE user_id hash exchange shared by grid build + both
    // windows. The interpolation fraction uses the grid row number
    // (integer, timezone-free) rather than epoch arithmetic, and the
    // double math mirrors the oracle op-for-op, so results hash-match
    // bit-exactly. Rows outside the first/last observation (leading edge)
    // stay NULL — interpolation never extrapolates.
    Op("ts_interpolate", (s, dir) => {
      val obs = events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(dsum6(col("value")).as("v"))
      val span = obs.groupBy("user_id")
        .agg(min("bucket").as("b0"), max("bucket").as("b1"))
        .select(col("user_id"),
          explode(sequence(col("b0"), col("b1"), expr("interval 1 hour")))
            .as("bucket"))
      val wrn = Window.partitionBy("user_id").orderBy("bucket")
      val wp = wrn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val next = nextNonNull(_: Column, col("user_id"), Seq(col("bucket")))
      val obsRn = when(col("v").isNotNull, col("rn"))
      span.join(obs, Seq("user_id", "bucket"), "left")
        .withColumn("rn", row_number().over(wrn).cast("double"))
        .select(col("user_id"), col("bucket"), col("v"), col("rn"),
          last(col("v"), ignoreNulls = true).over(wp).as("v0"),
          last(obsRn, ignoreNulls = true).over(wp).as("rn0"),
          next(col("v")).as("v1"),
          next(obsRn).as("rn1"))
        .select(col("user_id"), col("bucket"),
          // explicit floor(x·1e6 + ½)/1e6 rounding, mirrored in the
          // oracle: engine round() builtins disagree on exact .5 ties
          // (BigDecimal HALF_UP vs double-multiply), and interpolating
          // decimal(18,6)-exact points at small-rational fractions lands
          // on such ties constantly.
          (floor((when(col("v").isNotNull, col("v"))
            .otherwise((col("v0") * (col("rn1") - col("rn")) +
              col("v1") * (col("rn") - col("rn0"))) /
              (col("rn1") - col("rn0"))))
            * 1000000.0d + 0.5d) / 1000000.0d).as("value"),
          col("v").isNotNull.as("observed"))
        .orderBy("user_id", "bucket")
    },
      Some("""WITH obs AS (
             | SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
             | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |span AS (
             | SELECT user_id,
             |  unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
             | FROM obs GROUP BY user_id),
             |g AS (
             | SELECT span.user_id, span.bucket, obs.v
             | FROM span LEFT JOIN obs
             |  ON span.user_id = obs.user_id AND span.bucket = obs.bucket),
             |r AS (
             | SELECT *, CAST(row_number() OVER wr AS DOUBLE) AS rn FROM g
             | WINDOW wr AS (PARTITION BY user_id ORDER BY bucket)),
             |f AS (
             | SELECT user_id, bucket, v, rn,
             |  last_value(v IGNORE NULLS) OVER wp AS v0,
             |  last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
             |    OVER wp AS rn0,
             |  first_value(v IGNORE NULLS) OVER wn AS v1,
             |  first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
             |    OVER wn AS rn1
             | FROM r
             | WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wn AS (PARTITION BY user_id ORDER BY bucket
             |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, bucket,
             | floor((CASE WHEN v IS NOT NULL THEN v
             |   ELSE (v0 * (rn1 - rn) + v1 * (rn - rn0)) / (rn1 - rn0) END)
             |  * 1000000.0 + 0.5) / 1000000.0 AS value,
             | (v IS NOT NULL) AS observed
             |FROM f ORDER BY user_id, bucket""".stripMargin)),

    // Holt double exponential smoothing (level + trend, α = β = 1/2) —
    // the one-step-ahead forecaster a metrics pipeline runs per stream.
    // Genuinely recursive like ts_ewma, and done on the same INTEGER
    // LATTICE: state is the pair (level, trend) in 1e-4 micro-units,
    //   ℓ ← (v + ℓ + b) div 2 ;  b ← (ℓ_new − ℓ_old + b) div 2
    // Both engines' integer division truncates toward zero (Spark `div`,
    // DuckDB `//` — pinned empirically, −7→−3 in both), so the fold is
    // bit-identical even when the trend goes negative. Per-key bounded
    // collect + one exchange, same contract as ts_ewma; the streaming
    // form would carry the same 2-long state in transformWithState.
    // HOLT–WINTERS ADDITIVE (triple exponential smoothing, period 24 h)
    // — ts_holt's seasonal completion: level + trend + a 24-slot
    // hour-of-day seasonal table, the classic ops-forecasting
    // recurrence. Same integer-lattice discipline as ts_holt /
    // ts_ewma: hourly totals in exact micro-units, smoothing weights
    // α=β=γ=1/2 as integer `div 2` (truncation toward zero — DuckDB's
    // `//` matches Spark's `div` on negatives, and seasonal deltas DO
    // go negative), so the whole recurrence is bit-exact cross-engine
    // and the oracle replays it as a recursive CTE carrying the
    // seasonal LIST. Shape: one corpus hash agg → the bounded calendar
    // grid (≤720 rows/month), then a sequential fold over that grid
    // inside one executor task (inherent to exponential smoothing; the
    // corpus is never the fold input). Released: the 24 seasonal
    // offsets + final level/trend.
    Op("ts_holt_winters", (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
          .cast("long")).as("vi"))
        .select(col("h"), hour(col("h")).as("hr"), col("vi"))
      hourly
        .agg(count(lit(1)).as("n_hours"),
          sort_array(collect_list(struct(col("h"), col("hr"), col("vi"))))
            .as("evs"))
        .withColumn("st", expr(
          "aggregate(slice(evs, 2, size(evs)), " +
            "named_struct('l', evs[0].vi, 'b', CAST(0 AS BIGINT), " +
            "'s', array_repeat(CAST(0 AS BIGINT), 24)), " +
            "(acc, e) -> named_struct(" +
            "'l', (e.vi - acc.s[e.hr] + acc.l + acc.b) div 2, " +
            "'b', (((e.vi - acc.s[e.hr] + acc.l + acc.b) div 2) " +
            "- acc.l + acc.b) div 2, " +
            "'s', transform(acc.s, (x, j) -> IF(j = e.hr, " +
            "(e.vi - ((e.vi - acc.s[e.hr] + acc.l + acc.b) div 2) + x) " +
            "div 2, x))))"))
        .select(col("n_hours"), col("st.l").as("level_micro"),
          col("st.b").as("trend_micro"),
          posexplode(col("st.s")).as(Seq("hr", "seasonal_micro")))
        .select(col("hr"), col("seasonal_micro"), col("level_micro"),
          col("trend_micro"), col("n_hours"))
        .orderBy("hr")
    },
      // The fold is replayed as a RECURSIVE CTE stepping rn → rn+1 (the
      // dedup_cluster oracle pattern), NOT via list_reduce with a struct
      // accumulator: DuckDB's lambda struct_pack binds fields sequentially,
      // so a later field referencing acc sees the already-updated earlier
      // field — probed empirically ((acc,x) -> {l: acc.l+x.l, b: acc.l}
      // yields b = the NEW l). Scalar recursion has no such hazard and `//`
      // truncates toward zero exactly like Spark's `div`.
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |   CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
             |     AS BIGINT) AS vi
             |  FROM events GROUP BY 1),
             | o AS (SELECT h, CAST(hour(h) AS INT) AS hr, vi,
             |   row_number() OVER (ORDER BY h) AS rn FROM hourly),
             | nn AS (SELECT count(*) AS n_hours FROM o),
             | r AS (
             |  SELECT rn, vi AS l, CAST(0 AS BIGINT) AS b,
             |   list_transform(range(24), j -> CAST(0 AS BIGINT)) AS s
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.rn,
             |   (o.vi - r.s[o.hr + 1] + r.l + r.b) // 2,
             |   (((o.vi - r.s[o.hr + 1] + r.l + r.b) // 2) - r.l + r.b) // 2,
             |   list_transform(range(24), j -> CASE WHEN j = o.hr
             |     THEN (o.vi - ((o.vi - r.s[o.hr + 1] + r.l + r.b) // 2)
             |       + r.s[o.hr + 1]) // 2
             |     ELSE r.s[j + 1] END)
             |  FROM r JOIN o ON o.rn = r.rn + 1),
             | last AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1)
             |SELECT CAST(j AS INT) AS hr, s[j + 1] AS seasonal_micro,
             | l AS level_micro, b AS trend_micro,
             | (SELECT CAST(n_hours AS BIGINT) FROM nn) AS n_hours
             |FROM last, (SELECT unnest(range(24)) AS j) g
             |ORDER BY hr""".stripMargin)),

    Op("ts_holt", (s, dir) =>
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("vi"))))
            .as("evs"))
        .withColumn("hs", expr(
          "aggregate(slice(evs, 2, size(evs))," +
            " named_struct('l', evs[0].vi, 'b', CAST(0 AS BIGINT))," +
            " (acc, e) -> named_struct(" +
            "'l', (e.vi + acc.l + acc.b) div 2," +
            "'b', ((e.vi + acc.l + acc.b) div 2 - acc.l + acc.b) div 2))"))
        .select(col("user_id"), col("event_type"), col("n_events"),
          col("hs.l").as("level_micro"), col("hs.b").as("trend_micro"),
          (col("hs.l") + col("hs.b")).as("forecast_micro"))
        .orderBy("user_id", "event_type"),
      Some("""WITH RECURSIVE e AS (SELECT user_id, event_type,
             |   CAST(ts AS TIMESTAMP) AS ts2, event_id,
             |   CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi
             | FROM events),
             |o AS (SELECT user_id, event_type, vi, row_number() OVER (
             |   PARTITION BY user_id, event_type ORDER BY ts2, event_id) AS rn
             | FROM e),
             |n AS (SELECT user_id, event_type, count(*) AS n_events
             | FROM o GROUP BY 1, 2),
             |r AS (
             | SELECT user_id, event_type, rn, vi AS l, CAST(0 AS BIGINT) AS b
             | FROM o WHERE rn = 1
             | UNION ALL
             | SELECT o.user_id, o.event_type, o.rn,
             |  (o.vi + r.l + r.b) // 2 AS l,
             |  ((o.vi + r.l + r.b) // 2 - r.l + r.b) // 2 AS b
             | FROM r JOIN o ON o.user_id = r.user_id
             |  AND o.event_type = r.event_type AND o.rn = r.rn + 1)
             |SELECT n.user_id, n.event_type, n.n_events, r.l AS level_micro,
             | r.b AS trend_micro, r.l + r.b AS forecast_micro
             |FROM r JOIN n ON r.user_id = n.user_id
             | AND r.event_type = n.event_type AND r.rn = n.n_events
             |ORDER BY n.user_id, n.event_type""".stripMargin)),

    // Lag-1 autocorrelation per (user, type) stream — the "is this metric
    // trending or white noise" diagnostic. The (v_t, v_{t−1}) pairs come
    // from one lag window; the correlation then follows the
    // agg_corr_matrix discipline exactly: exact-DECIMAL sufficient
    // statistics in ONE two-phase agg, final arithmetic on exact sums →
    // identical doubles in both engines. The window and the agg share the
    // (user, type)-keyed exchange; n ≥ 20 floors out degenerate streams.
    Op("ts_autocorr_lag1", (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .withColumn("pv", lag("value", 1).over(w))
        .filter(col("pv").isNotNull)
      pairs.groupBy("user_id", "event_type").agg(
          count(lit(1)).cast("double").as("n"),
          dsum6(col("pv")).as("sx"), dsum6(col("value")).as("sy"),
          dsum6(col("pv") * col("value")).as("sxy"),
          dsum6(col("pv") * col("pv")).as("sxx"),
          dsum6(col("value") * col("value")).as("syy"))
        .filter(col("n") >= 20)
        .select(col("user_id"), col("event_type"),
          col("n").cast("long").as("n_pairs"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0.0 &&
               (col("n") * col("syy") - col("sy") * col("sy")) > 0.0,
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                   (col("n") * col("syy") - col("sy") * col("sy"))), 6))
            .as("autocorr"))
        .orderBy("user_id", "event_type")
    },
      Some(s"""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts2,
              |   event_id, value FROM events),
              |p AS (SELECT user_id, event_type, value,
              |   lag(value) OVER (PARTITION BY user_id, event_type
              |     ORDER BY ts2, event_id) AS pv FROM e),
              |g AS (SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS n,
              |   ${dsum6Sql("pv")} AS sx, ${dsum6Sql("value")} AS sy,
              |   ${dsum6Sql("pv * value")} AS sxy,
              |   ${dsum6Sql("pv * pv")} AS sxx, ${dsum6Sql("value * value")} AS syy
              | FROM p WHERE pv IS NOT NULL GROUP BY 1, 2)
              |SELECT user_id, event_type, CAST(n AS BIGINT) AS n_pairs,
              | CASE WHEN (n * sxx - sx * sx) > 0.0 AND (n * syy - sy * sy) > 0.0
              |   THEN round((n * sxy - sx * sy) /
              |     sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
              |   ELSE NULL END AS autocorr
              |FROM g WHERE n >= 20 ORDER BY user_id, event_type""".stripMargin)),

    // CUSUM changepoint per (user, type) stream: the index t maximizing
    // |n·S_t − t·S_n| — the classic cumulative-deviation statistic
    // (Page 1954) with the mean CLEARED of division (n·S_t − t·S_n =
    // n·(S_t − t·μ)), so the whole scan is exact 64-bit integers: vi ≤
    // 5.6e6 micro-units, S ≤ 3.4e9 at test group sizes, terms ≤ n·S —
    // a 1e5-row stream stays < 6e16, far inside a long. Argmax is a
    // deterministic (dev DESC, rn ASC) row_number pick. Three windows +
    // one filter, all riding ONE (user, type) exchange — the running
    // sum and row number share a frame pass, the totals are an
    // unbounded frame over the same sort, the pick re-sorts in-partition.
    Op("ts_cusum_changepoint", (s, dir) => {
      val ord = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy("user_id", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val dev = abs(col("n") * col("st") - col("rn") * col("stot"))
      val pick = Window.partitionBy("user_id", "event_type")
        .orderBy(col("dev").desc, col("rn"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vi"))
        .withColumn("rn", row_number().over(ord))
        .withColumn("st", sum("vi").over(run))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("stot", sum("vi").over(all))
        .withColumn("dev", dev)
        .withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type"), col("n").as("n_events"),
          col("ts").as("cp_ts"), col("rn").as("cp_index"), col("dev").as("cusum_dev"))
        .orderBy("user_id", "event_type")
    },
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts2,
             |   event_id, CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi
             | FROM events),
             |w AS (SELECT user_id, event_type, ts2,
             |   row_number() OVER ord AS rn,
             |   CAST(sum(vi) OVER (PARTITION BY user_id, event_type
             |     ORDER BY ts2, event_id
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS st,
             |   count(*) OVER grp AS n,
             |   CAST(sum(vi) OVER grp AS BIGINT) AS stot
             | FROM e
             | WINDOW ord AS (PARTITION BY user_id, event_type ORDER BY ts2, event_id),
             |  grp AS (PARTITION BY user_id, event_type)),
             |d AS (SELECT *, abs(n * st - rn * stot) AS dev,
             |   row_number() OVER (PARTITION BY user_id, event_type
             |     ORDER BY abs(n * st - rn * stot) DESC, rn) AS rk
             | FROM w)
             |SELECT user_id, event_type, n AS n_events, ts2 AS cp_ts,
             | rn AS cp_index, dev AS cusum_dev
             |FROM d WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin)),

    // DAU / trailing-7-day WAU — the canonical engagement rollup, done
    // EXACTLY and distributed: the naive form (a count-distinct over a
    // 7-day range frame) can't partial-aggregate, so each (day, user)
    // activity row instead explodes onto the ≤7 report days it covers
    // (bounded fan-out, the join_range_bucketed trick applied to time)
    // and WAU becomes a plain two-phase distinct count per day. The
    // (day, user) distinct collapses the raw feed FIRST — events never
    // fan out, only the deduped activity grid (≤ users × days rows)
    // does. At 100 TB: one feed-sized exchange for the distinct, then
    // aggregate-sized frames; the 7× explode is scan-stage.
    Op("ts_active_users", (s, dir) => {
      val dayUsers = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      // ONE pass over the cover explosion: DAU is the off=0 lane of the
      // same multi-distinct agg that computes WAU (a dau/wau branch pair
      // would re-plan the distinct subtree and join the results back —
      // two more exchanges for the same answer). dau > 0 keeps exactly
      // the days with observed activity.
      val cover = dayUsers.select(col("user_id"),
        posexplode(sequence(col("d"), date_add(col("d"), 6)))
          .as(Seq("off", "d")))
      cover.groupBy("d")
        .agg(countDistinct(when(col("off") === 0, col("user_id"))).as("dau"),
          countDistinct(col("user_id")).as("wau7"))
        .filter(col("dau") > 0)
        .orderBy("d")
    },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
             | cover AS (SELECT du.d + CAST(off AS INT) AS d, off, user_id
             |   FROM du, (SELECT unnest(generate_series(0, 6)) AS off))
             |SELECT d, count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
             | count(DISTINCT user_id) AS wau7
             |FROM cover GROUP BY 1
             |HAVING count(DISTINCT CASE WHEN off = 0 THEN user_id END) > 0
             |ORDER BY d""".stripMargin)),

    // Winsorization — the robust-preprocessing projection of a training
    // pipeline: clip each stream's values at its own [p05, p95] so tail
    // outliers can't dominate a downstream fit. agg_mad's two-pass
    // shape: one exact-percentile agg per event_type (|types| rows,
    // broadcast back onto the scan), then a pure clamp projection —
    // the corpus never shuffles. Exact `percentile` ↔ percentile_cont
    // (the agg_percentile pairing); the clamp is least/greatest on the
    // same doubles in both engines.
    Op("ts_winsorize", (s, dir) => {
      val bounds = events(s, dir).groupBy("event_type")
        .agg(percentile(col("value"), lit(0.05)).as("lo"),
          percentile(col("value"), lit(0.95)).as("hi"))
      events(s, dir).join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("lo")), col("hi"))
            .as("winsorized"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .as("clipped"))
        .orderBy("event_id")
    },
      Some("""WITH b AS (SELECT event_type,
             |   percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
             |   percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
             | FROM events GROUP BY 1)
             |SELECT event_id, e.event_type, value,
             | least(greatest(value, lo), hi) AS winsorized,
             | (value < lo OR value > hi) AS clipped
             |FROM events e JOIN b ON e.event_type = b.event_type
             |ORDER BY event_id""".stripMargin)),

    // Per-event session assignment — sessionize_batch's ROW-level dual:
    // expose the session ordinal on every event so downstream joins can
    // key on (user, session) without re-deriving the gap rule. One
    // user_id window exchange (the shared withSessionSeq), pure
    // projection after.
    Op("sessionize_assign", (s, dir) =>
      Sessionization.withSessionSeq(events(s, dir))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("session_seq"))
        .orderBy("event_id"),
      Some(s"""${Sessionization.oracleSessionCte()}
             |SELECT event_id, user_id, ts, session_seq
             |FROM s ORDER BY event_id""".stripMargin)),

    // Welch's two-sample t-statistic between every pair of event types —
    // the A/B-experiment significance readout, computed the exact-stats
    // way: ONE two-phase agg produces per-type (n, Σx, Σx²) as exact
    // DECIMALs, then the 6 type pairs come from a self-cross of that
    // |types|-row aggregate (bounded by construction — the cartesian is
    // of finished aggregates, never facts) and the t arithmetic runs as
    // the same correctly-rounded IEEE expression in both engines.
    Op("agg_ab_ttest", (s, dir) => {
      val st = typeMoments(s, dir)
      val (a, b) = typeSides(st, Nil, "n" -> "n", "sx" -> "sx", "sxx" -> "sxx")
      val sea = (col("sxxa") - col("sxa") * col("sxa") / col("na")) /
        (col("na") - 1.0) / col("na")
      val seb = (col("sxxb") - col("sxb") * col("sxb") / col("nb")) /
        (col("nb") - 1.0) / col("nb")
      a.crossJoin(b).filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          round((col("sxa") / col("na") - col("sxb") / col("nb")) /
            sqrt(sea + seb), 6).as("t_stat"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""WITH $typeMomentsCte
              |SELECT a.event_type AS type_a, b.event_type AS type_b,
              | CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
              | round((a.sx / a.n - b.sx / b.n) / sqrt(
              |   (a.sxx - a.sx * a.sx / a.n) / (a.n - 1.0) / a.n
              |   + (b.sxx - b.sx * b.sx / b.n) / (b.n - 1.0) / b.n), 6) AS t_stat
              |FROM st a CROSS JOIN st b WHERE a.event_type < b.event_type
              |ORDER BY 1, 2""".stripMargin)),

    // ONE-WAY ANOVA F (round 10) — the parametric omnibus beside
    // agg_kruskal_wallis: same "do ANY of the k variants differ?"
    // question under the equal-variance normal model, and the
    // decomposition (SS_between / SS_within) every experiment review
    // wants printed beside the verdict. All from one two-phase corpus
    // agg of exact (n, Σx, Σx²) per type; the grand mean comes off a
    // 1-row DECIMAL re-aggregate of the per-type sums (exact — no
    // double re-summation), each group's SS terms are one IEEE tree,
    // and the cross-group SS sums accumulate on the DECIMAL(28,12)
    // lattice (the Kruskal–Wallis rule — the one place engine-ordered
    // float addition could sneak in).
    Op("agg_anova_oneway", (s, dir) => {
      val dec = "decimal(28,12)"
      val st = typeMoments(s, dir)
      val tot = st.agg(
        sum(col("n").cast(dec)).cast("double").as("nt"),
        sum(col("sx").cast(dec)).cast("double").as("sxt"),
        count(lit(1)).as("k"))
      val gm = col("sxt") / col("nt")
      val termB = (col("n") *
        ((col("sx") / col("n") - gm) * (col("sx") / col("n") - gm)))
        .cast(dec)
      val termW = (col("sxx") - col("sx") * col("sx") / col("n")).cast(dec)
      val ss = st.crossJoin(tot).groupBy("nt", "k")
        .agg(sum(termB).cast("double").as("ssb"),
          sum(termW).cast("double").as("ssw"))
      val f = (col("ssb") / (col("k") - lit(1.0))) /
        (col("ssw") / (col("nt") - col("k")))
      ss.select(col("k").as("n_groups"), col("nt").cast("long").as("n_total"),
        round(col("ssb"), 6).as("ss_between"),
        round(col("ssw"), 6).as("ss_within"),
        round(f, 6).as("f_stat"))
    },
      Some(s"""WITH $typeMomentsCte,
              | tot AS (SELECT
              |   CAST(sum(CAST(n AS DECIMAL(28,12))) AS DOUBLE) AS nt,
              |   CAST(sum(CAST(sx AS DECIMAL(28,12))) AS DOUBLE) AS sxt,
              |   count(*) AS k FROM st),
              | ss AS (SELECT nt, k,
              |   CAST(sum(CAST(n * ((sx / n - sxt / nt) * (sx / n - sxt / nt))
              |     AS DECIMAL(28,12))) AS DOUBLE) AS ssb,
              |   CAST(sum(CAST(sxx - sx * sx / n AS DECIMAL(28,12)))
              |     AS DOUBLE) AS ssw
              |  FROM st CROSS JOIN tot GROUP BY 1, 2)
              |SELECT CAST(k AS BIGINT) AS n_groups, CAST(nt AS BIGINT) AS n_total,
              | round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
              | round((ssb / (k - 1.0)) / (ssw / (nt - k)), 6) AS f_stat
              |FROM ss""".stripMargin)),

    // BROWN–FORSYTHE (median-Levene) VARIANCE-HOMOGENEITY TEST (round
    // 10) — the check on the assumption agg_anova_oneway silently
    // makes: are the k groups' variances even comparable? (Unequal
    // variances with unequal n's is how ANOVA lies.) Classic shape:
    // z = |x − median_g| per event (medians exact, broadcast back —
    // the agg_mad two-pass), then the one-way-F machinery ON the z's.
    // Determinism: the whole z layer is EXACT INTEGER arithmetic in
    // DOUBLED micro-units — vi = lattice(value)·1e6 (long), 2·median is
    // an exact long even when an even-sized group interpolates to a
    // half-lattice midpoint (lo+hi ≤ 2^53 so percentile's (lo+hi)/2 is
    // exact in double and ×2 recovers the integer), z2 = |2·vi − 2·med|
    // — so Σz = Σz2/2e6 and Σz² = Σz2²/4e12 are single correctly-
    // rounded divisions over exact decimal sums. This keeps z OFF the
    // DECIMAL(18,6) cast entirely: |value−med| at a half-lattice
    // midpoint would sit ON a HALF_UP rounding tie where Spark's
    // shortest-string cast and DuckDB's scaled-binary rounding can
    // disagree by 1e-6. The cross-group SS sums ride the same
    // DECIMAL(28,12) lattice as ANOVA/Kruskal–Wallis.
    Op("agg_levene_bf", (s, dir) => {
      val dec = "decimal(28,12)"
      val ev = events(s, dir).select(col("event_type"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("vi"))
      val meds = ev.groupBy("event_type")
        .agg((percentile(col("vi"), lit(0.5)) * 2).cast("long").as("med2"))
      // Exact integer sums Σz2 / Σz2² (decimal(38,0)) released to double
      // via a 2^32 hi/lo split: hi ≤ 2^53 and lo < 2^32 convert exactly,
      // hi·2^32 is a pure exponent shift, and the one add + one divide
      // are correctly rounded — bit-identical cross-engine even when the
      // raw sums exceed 2^53 (Σz2² ≈ 1e23 at sf0.1, where a direct
      // big-decimal→double cast would hit engine-specific conversion
      // rounding).
      def exactDbl(name: String): org.apache.spark.sql.Column =
        expr(s"$name div 4294967296").cast("double") * lit(4294967296.0) +
          (col(name) - expr(s"$name div 4294967296").cast("decimal(38,0)") *
            lit(4294967296L)).cast("double")
      val st = ev.join(broadcast(meds), "event_type")
        .select(col("event_type"),
          abs(col("vi") * 2 - col("med2")).as("z2"))
        .groupBy("event_type").agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("z2").cast("decimal(38,0)")).as("sz"),
          sum(col("z2").cast("decimal(38,0)") * col("z2")).as("szz"))
        .select(col("event_type"), col("n"),
          (exactDbl("sz") / lit(2000000.0)).as("sx"),
          (exactDbl("szz") / lit(4000000000000.0)).as("sxx"))
      val tot = st.agg(
        sum(col("n").cast(dec)).cast("double").as("nt"),
        sum(col("sx").cast(dec)).cast("double").as("sxt"),
        count(lit(1)).as("k"))
      val gm = col("sxt") / col("nt")
      val termB = (col("n") *
        ((col("sx") / col("n") - gm) * (col("sx") / col("n") - gm)))
        .cast(dec)
      val termW = (col("sxx") - col("sx") * col("sx") / col("n")).cast(dec)
      val ss = st.crossJoin(tot).groupBy("nt", "k")
        .agg(sum(termB).cast("double").as("ssb"),
          sum(termW).cast("double").as("ssw"))
      val f = (col("ssb") / (col("k") - lit(1.0))) /
        (col("ssw") / (col("nt") - col("k")))
      ss.select(col("k").as("n_groups"), col("nt").cast("long").as("n_total"),
        round(f, 6).as("w_stat"))
    },
      Some("""WITH ev AS (SELECT event_type,
             |   CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
             |  FROM events),
             | meds AS (SELECT event_type,
             |   CAST(2 * quantile_cont(vi, 0.5) AS BIGINT) AS med2
             |  FROM ev GROUP BY 1),
             | zz AS (SELECT e.event_type, abs(2 * e.vi - m.med2) AS z2
             |  FROM ev e JOIN meds m USING (event_type)),
             | sums AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             |   sum(CAST(z2 AS HUGEINT)) AS sz,
             |   sum(CAST(z2 AS HUGEINT) * z2) AS szz
             |  FROM zz GROUP BY 1),
             | st AS (SELECT event_type, n,
             |   (CAST(sz // 4294967296 AS DOUBLE) * 4294967296.0
             |     + CAST(sz % 4294967296 AS DOUBLE)) / 2000000.0 AS sx,
             |   (CAST(szz // 4294967296 AS DOUBLE) * 4294967296.0
             |     + CAST(szz % 4294967296 AS DOUBLE)) / 4000000000000.0 AS sxx
             |  FROM sums),
             | tot AS (SELECT
             |   CAST(sum(CAST(n AS DECIMAL(28,12))) AS DOUBLE) AS nt,
             |   CAST(sum(CAST(sx AS DECIMAL(28,12))) AS DOUBLE) AS sxt,
             |   count(*) AS k FROM st),
             | ss AS (SELECT nt, k,
             |   CAST(sum(CAST(n * ((sx / n - sxt / nt) * (sx / n - sxt / nt))
             |     AS DECIMAL(28,12))) AS DOUBLE) AS ssb,
             |   CAST(sum(CAST(sxx - sx * sx / n AS DECIMAL(28,12)))
             |     AS DOUBLE) AS ssw
             |  FROM st CROSS JOIN tot GROUP BY 1, 2)
             |SELECT CAST(k AS BIGINT) AS n_groups, CAST(nt AS BIGINT) AS n_total,
             | round((ssb / (k - 1.0)) / (ssw / (nt - k)), 6) AS w_stat
             |FROM ss""".stripMargin)),

    // MOOD'S MEDIAN TEST (round 11) — the bluntest k-group location
    // test: classify every event as above/≤ the GRAND median, then a
    // χ² on the k×2 contingency. Completes the nonparametric ladder
    // (pairwise Mann–Whitney → omnibus Kruskal–Wallis → this, the one
    // that survives arbitrary monotone transforms and gross outliers).
    // Exactness: the grand median is the exact percentile ↔
    // quantile_cont pairing; above/below are exact longs from one
    // corpus agg; each cell term is one IEEE tree over exact integers
    // and the cross-type sum rides the DECIMAL(28,12) lattice (the
    // agg_chisq_independence rule).
    Op("agg_mood_median_test", (s, dir) => {
      val dec = "decimal(28,12)"
      val med = events(s, dir)
        .agg(percentile(col("value"), lit(0.5)).as("gm"))
      val o = events(s, dir).crossJoin(broadcast(med))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > col("gm"), 1L).otherwise(0L)).as("above"),
          first(col("gm")).as("gm"))
      val tot = o.agg(sum("n").as("nt"), sum("above").as("at"))
      val nD = col("n").cast("double")
      val ea = nD * col("at") / col("nt")
      val eb = nD * (col("nt") - col("at")) / col("nt")
      val below = col("n") - col("above")
      val contrib = ((col("above") - ea) * (col("above") - ea) / ea
        + (below - eb) * (below - eb) / eb)
      o.crossJoin(broadcast(tot))
        .groupBy("nt", "at")
        .agg(count(lit(1)).as("n_groups"),
          round(first(col("gm")), 6).as("grand_median"),
          sum(contrib.cast(dec)).cast("double").as("chi2"))
        .select(col("n_groups"), col("nt").cast("long").as("n_total"),
          col("at").cast("long").as("n_above"), col("grand_median"),
          round(col("chi2"), 6).as("chi2"),
          (col("n_groups") - 1).as("df"))
    },
      Some("""WITH med AS (SELECT quantile_cont(value, 0.5) AS gm FROM events),
             | o AS (SELECT event_type, count(*) AS n,
             |   sum(CASE WHEN value > gm THEN 1 ELSE 0 END) AS above,
             |   max(gm) AS gm
             |  FROM events CROSS JOIN med GROUP BY 1),
             | tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             |   CAST(sum(above) AS BIGINT) AS at FROM o),
             | c AS (SELECT o.event_type, o.n, o.above, o.gm, tot.nt, tot.at,
             |   CAST(o.n AS DOUBLE) * tot.at / tot.nt AS ea,
             |   CAST(o.n AS DOUBLE) * (tot.nt - tot.at) / tot.nt AS eb
             |  FROM o CROSS JOIN tot)
             |SELECT CAST(count(*) AS BIGINT) AS n_groups,
             | max(nt) AS n_total, max(at) AS n_above,
             | round(max(gm), 6) AS grand_median,
             | round(CAST(sum(CAST(
             |   (above - ea) * (above - ea) / ea
             |   + ((n - above) - eb) * ((n - above) - eb) / eb
             |   AS DECIMAL(28,12))) AS DOUBLE), 6) AS chi2,
             | CAST(count(*) - 1 AS BIGINT) AS df
             |FROM c""".stripMargin)),

    // χ² TEST OF INDEPENDENCE (round 10) — event_type × day-of-week
    // contingency: "does the traffic MIX change by weekday?" — the
    // categorical-association readout beside agg_srm_chisq's 1-D
    // goodness-of-fit. Observed counts are exact integers from ONE
    // two-phase corpus agg; expecteds E = row·col/N are rational over
    // exact longs; each cell's (O−E)²/E is one IEEE tree and the
    // cross-cell sum rides the DECIMAL(28,12) lattice (the bounded
    // |types|×7 grid is the only thing past the first agg).
    Op("agg_chisq_independence", (s, dir) => {
      val dec = "decimal(28,12)"
      val o = events(s, dir)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("o"))
      val rt = o.groupBy("event_type").agg(sum("o").as("rt"))
      val ct = o.groupBy("dow").agg(sum("o").as("ct"))
      val nt = o.agg(sum("o").as("n"))
      val e = col("rt").cast("double") * col("ct") / col("n")
      val oD = col("o").cast("double")
      val cells = o.join(broadcast(rt), "event_type")
        .join(broadcast(ct), "dow").crossJoin(broadcast(nt))
      cells.agg(
          count(lit(1)).as("n_cells"),
          ((countDistinct(col("event_type")) - 1) *
            (countDistinct(col("dow")) - 1)).as("dof"),
          least(countDistinct(col("event_type")) - 1,
            countDistinct(col("dow")) - 1).as("mindim"),
          first(col("n")).as("n_total"),
          sum((((oD - e) * (oD - e)) / e).cast(dec)).cast("double")
            .as("chi2"))
        .select(col("n_cells"), col("dof"), round(col("chi2"), 6).as("chi2"),
          // Cramér's V — the effect size the χ² needs beside it (χ²
          // grows with N; V ∈ [0,1] does not)
          round(sqrt(col("chi2") /
            (col("n_total").cast("double") * col("mindim"))), 6)
            .as("cramers_v"))
    },
      Some("""WITH o AS (SELECT event_type,
             |   CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
             |   count(*) AS o FROM events GROUP BY 1, 2),
             | rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
             |  FROM o GROUP BY 1),
             | ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
             | nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
             | cells AS (SELECT o.event_type, o.dow, o.o, rt.rt, ct.ct, nt.n,
             |   CAST(rt.rt AS DOUBLE) * ct.ct / n AS e
             |  FROM o JOIN rt USING (event_type) JOIN ct USING (dow)
             |   CROSS JOIN nt),
             | agg AS (SELECT count(*) AS n_cells,
             |   (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
             |     AS dof,
             |   least(count(DISTINCT event_type) - 1, count(DISTINCT dow) - 1)
             |     AS mindim,
             |   max(n) AS n_total,
             |   CAST(sum(CAST(
             |     ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e
             |     AS DECIMAL(28,12))) AS DOUBLE) AS chi2
             |  FROM cells)
             |SELECT n_cells, dof, round(chi2, 6) AS chi2,
             | round(sqrt(chi2 / (CAST(n_total AS DOUBLE) * mindim)), 6)
             |   AS cramers_v
             |FROM agg""".stripMargin)),

    // GROUP-SEQUENTIAL MONITORING, O'Brien–Fleming boundaries (round
    // 10) — the "peeking" discipline: an experiment read weekly needs
    // wider early boundaries or its real α balloons (5 uncorrected
    // looks at z=1.96 ≈ α=0.14). Four FIXED weekly looks over corpus
    // days 1–28 (a fixed K keeps the boundary constants literal — a
    // data-dependent look count would make the spending function
    // data-dependent); boundary_k = 2.024·√(4/k), the K=4 two-sided
    // α=0.05 OBF constant. Exactness: per-(variant, look) moments stay
    // DECIMAL(18,6) through the ≤4-row cumulative window (exact
    // decimal cumsum — no float order anywhere), the z at each look is
    // one IEEE tree over those exact cumulative moments, and the
    // crossing verdict compares 6-dp-released values. Shape: one
    // corpus agg → 8 rows; the window and join are grid-sized.
    Op("agg_group_sequential_obf", (s, dir) => {
      val dec = "decimal(18,6)"
      val base = events(s, dir)
        .withColumn("variant",
          when(srmArmA, lit("A")).otherwise(lit("B")))
        .withColumn("look",
          (expr("datediff(to_date(ts), date'2024-01-01') div 7") + 1)
            .cast("int"))
        .filter(col("look") <= 4)
      val perLook = base.groupBy("variant", "look").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(dec)).as("sx"),
        sum((col("value") * col("value")).cast(dec)).as("sxx"))
      val w = Window.partitionBy("variant").orderBy("look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perLook.select(col("variant"), col("look"),
        sum("n").over(w).cast("double").as("cn"),
        sum("sx").over(w).cast("double").as("csx"),
        sum("sxx").over(w).cast("double").as("csxx"))
      obfRelease(cum)
    },
      Some(s"""WITH base AS (SELECT value,
             |   CASE WHEN $srmArmASql
             |     THEN 'A' ELSE 'B' END AS variant,
             |   ((CAST(ts AS DATE) - DATE '2024-01-01') // 7) + 1 AS look
             |  FROM events),
             | pl AS (SELECT variant, look, count(*) AS n,
             |   sum(CAST(value AS DECIMAL(18,6))) AS sx,
             |   sum(CAST(value * value AS DECIMAL(18,6))) AS sxx
             |  FROM base WHERE look <= 4 GROUP BY 1, 2),
             | cum AS (SELECT variant, look,
             |   CAST(sum(n) OVER w AS DOUBLE) AS cn,
             |   CAST(sum(sx) OVER w AS DOUBLE) AS csx,
             |   CAST(sum(sxx) OVER w AS DOUBLE) AS csxx
             |  FROM pl WINDOW w AS (PARTITION BY variant ORDER BY look
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             | j AS (SELECT a.look, a.cn AS na, a.csx AS sxa, a.csxx AS sxxa,
             |   b.cn AS nb, b.csx AS sxb, b.csxx AS sxxb
             |  FROM cum a JOIN cum b ON a.look = b.look
             |  WHERE a.variant = 'A' AND b.variant = 'B'),
             | zz AS (SELECT look, na, nb,
             |   round((sxa / na - sxb / nb)
             |     / sqrt(((sxxa - sxa * sxa / na) / (na - 1.0)) / na
             |       + ((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb), 6) AS z,
             |   round(2.024 * sqrt(4.0 / look), 6) AS boundary
             |  FROM j)
             |SELECT CAST(look AS INT) AS look,
             | CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             | z, boundary, (abs(z) > boundary) AS crossed
             |FROM zz ORDER BY look""".stripMargin)),

    // STANDARDIZED EFFECT SIZE (round 10) — Cohen's d with the Hedges
    // g small-sample correction per type pair: the number the review
    // asks for AFTER significance ("fine, it's real — is it BIG?").
    // d = Δ/s_pooled from the agg_ab_ttest exact-moment machine; the
    // Hedges correction uses the standard J ≈ 1 − 3/(4·df − 1)
    // approximation (a rational expression — no gamma function, so it
    // is engine-exact). One corpus agg, |types|²/2 arithmetic rows.
    Op("agg_effect_size", (s, dir) => {
      val st = typeMoments(s, dir)
      val (a, b) = typeSides(st, Nil, "n" -> "n", "sx" -> "sx", "sxx" -> "sxx")
      val ssa = col("sxxa") - col("sxa") * col("sxa") / col("na")
      val ssb = col("sxxb") - col("sxb") * col("sxb") / col("nb")
      val sPool = sqrt((ssa + ssb) / (col("na") + col("nb") - lit(2.0)))
      val d = (col("sxa") / col("na") - col("sxb") / col("nb")) / sPool
      val j = lit(1.0) - lit(3.0) /
        (lit(4.0) * (col("na") + col("nb") - lit(2.0)) - lit(1.0))
      a.crossJoin(b).filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          round(d, 6).as("cohens_d"),
          round(d * j, 6).as("hedges_g"),
          round(abs(d), 6).as("abs_d"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""WITH $typeMomentsCte,
              | p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
              |   (a.sx / a.n - b.sx / b.n)
              |     / sqrt(((a.sxx - a.sx * a.sx / a.n)
              |       + (b.sxx - b.sx * b.sx / b.n)) / (a.n + b.n - 2.0)) AS d,
              |   1.0 - 3.0 / (4.0 * (a.n + b.n - 2.0) - 1.0) AS j
              |  FROM st a CROSS JOIN st b WHERE a.event_type < b.event_type)
              |SELECT type_a, type_b, round(d, 6) AS cohens_d,
              | round(d * j, 6) AS hedges_g, round(abs(d), 6) AS abs_d
              |FROM p ORDER BY type_a, type_b""".stripMargin)),

    // TOST EQUIVALENCE TEST (round 10) — the launch criterion
    // agg_ab_ttest can't express: "show the variants are the SAME
    // within ±5%", the question asked for no-regression launches and
    // holdback validation (failing to reject H₀ is NOT evidence of
    // equivalence — TOST's two one-sided tests are). Margin δ = 5% of
    // the pair's grand mean; equivalent iff t_lower = (Δ+δ)/se > 1.645
    // AND t_upper = (Δ−δ)/se < −1.645 (α=0.05, z approximation —
    // literal constants). Same exact-DECIMAL (n, Σx, Σx²) machine and
    // bounded aggregate self-cross as agg_ab_ttest; the verdict
    // compares 6-dp-rounded t's so both engines decide on identical
    // released values.
    Op("agg_tost_equivalence", (s, dir) => {
      val st = typeMoments(s, dir)
      val (a, b) = typeSides(st, Nil, "n" -> "n", "sx" -> "sx", "sxx" -> "sxx")
      val sea = (col("sxxa") - col("sxa") * col("sxa") / col("na")) /
        (col("na") - lit(1.0)) / col("na")
      val seb = (col("sxxb") - col("sxb") * col("sxb") / col("nb")) /
        (col("nb") - lit(1.0)) / col("nb")
      val se = sqrt(sea + seb)
      val diff = col("sxa") / col("na") - col("sxb") / col("nb")
      val margin = lit(0.05) *
        ((col("sxa") / col("na") + col("sxb") / col("nb")) / lit(2.0))
      val tLo = round((diff + margin) / se, 6)
      val tUp = round((diff - margin) / se, 6)
      a.crossJoin(b).filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          round(diff, 6).as("diff"), round(margin, 6).as("margin"),
          tLo.as("t_lower"), tUp.as("t_upper"),
          (tLo > lit(1.645) && tUp < lit(-1.645)).as("is_equivalent"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""WITH $typeMomentsCte,
              | p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
              |   a.sx / a.n - b.sx / b.n AS diff,
              |   0.05 * ((a.sx / a.n + b.sx / b.n) / 2.0) AS margin,
              |   sqrt((a.sxx - a.sx * a.sx / a.n) / (a.n - 1.0) / a.n
              |     + (b.sxx - b.sx * b.sx / b.n) / (b.n - 1.0) / b.n) AS se
              |  FROM st a CROSS JOIN st b WHERE a.event_type < b.event_type),
              | tt AS (SELECT type_a, type_b, round(diff, 6) AS diff_r,
              |   round(margin, 6) AS margin_r,
              |   round((diff + margin) / se, 6) AS t_lower,
              |   round((diff - margin) / se, 6) AS t_upper
              |  FROM p)
              |SELECT type_a, type_b, diff_r AS diff, margin_r AS margin,
              | t_lower, t_upper,
              | (t_lower > 1.645 AND t_upper < -1.645) AS is_equivalent
              |FROM tt ORDER BY type_a, type_b""".stripMargin)),

    // MANN–WHITNEY U (Wilcoxon rank-sum) between every pair of event
    // types (round 10) — the NONPARAMETRIC twin of agg_ab_ttest, the
    // test an experiment platform reaches for when values are skewed
    // (revenue, latency) and the t-test's normality is a lie. Computed
    // WITHOUT ranking the corpus: U(A,B) = Σ_v cntA(v)·(cumB(<v) +
    // ½·cntB(=v)) needs only the per-(type, value) count frame — one
    // corpus hash agg — densified over the VALUE DOMAIN (|distinct
    // values| × |types| rows, the skyline_pareto bound; the per-type
    // cumsum window runs there, never over events). Exactness: 2U is an
    // integer by construction and accumulates as a long; the tie-
    // corrected normal z = (U − nAnB/2)/σ is one IEEE expression over
    // exact integer moments (Σt³−t over combined ties) — bit-identical
    // cross-engine, rounded 6dp at release.
    // RANK-BISERIAL CORRELATION (Cureton 1956; Wendt 1972's identity
    // r = 2U/(n_A·n_B) − 1) — the EFFECT SIZE the Mann–Whitney z alone
    // doesn't give: at corpus n everything is "significant", and r_rb
    // says how large the stochastic dominance actually is (r = P(A>B) −
    // P(B>A) under random draws). Shares [[denseTypeValueCum]], so 2U
    // is the same exact long the MW key accumulates; r is one division
    // off exact integers, and the favored arm is read off the ROUNDED r
    // so the verdict column can't flake at a near-zero boundary.
    Op("agg_rank_biserial", (s, dir) => {
      val cum = denseTypeValueCum(s, dir)
      val (a, b) = typeSides(cum, Seq("value"), "cnt" -> "c", "cum" -> "cum")
      val pair = a.join(b, "value").filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          sum(col("ca") * (col("cumb") - col("cb")) * 2
            + col("ca") * col("cb")).as("u2"))
      val r6 = round(col("u2").cast("double")
        / (col("n_a").cast("double") * col("n_b")) - lit(1.0), 6)
      pair.select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          r6.as("r_rb"),
          when(r6 > 0, col("type_a")).when(r6 < 0, col("type_b"))
            .otherwise(lit("tie")).as("favored"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""$denseCumCtes,
             | pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |   sum(a.cnt) AS n_a, sum(b.cnt) AS n_b,
             |   sum(a.cnt * (b.cum - b.cnt) * 2 + a.cnt * b.cnt) AS u2
             |  FROM cum a JOIN cum b ON a.value = b.value
             |   AND a.event_type < b.event_type
             |  GROUP BY 1, 2),
             | r AS (SELECT type_a, type_b,
             |   CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |   round(CAST(u2 AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
             |     - 1.0, 6) AS r_rb
             |  FROM pair)
             |SELECT type_a, type_b, n_a, n_b, r_rb,
             | CASE WHEN r_rb > 0 THEN type_a WHEN r_rb < 0 THEN type_b
             |   ELSE 'tie' END AS favored
             |FROM r ORDER BY type_a, type_b""".stripMargin)),

    // YUEN'S TRIMMED-MEAN t-TEST (Yuen 1974) — the robust two-sample
    // location test an experiment platform runs when heavy tails make
    // even the rank tests' "stochastic dominance" answer the wrong
    // question: compare 10%-trimmed means with winsorized variances.
    // ENTIRELY on the value-domain machine — no per-event trimming
    // pass: from the densified cum frame, each (type, value) row's KEPT
    // multiplicity inside rank window [g+1, n−g] is
    // max(0, min(cum, n−g) − max(cum−cnt, g)) (exact integers), the
    // winsorization boundaries are the rank-(g+1) and rank-(n−g) values
    // (min value with cum ≥ rank), and the winsorized moments add
    // g·boundary terms to the trimmed DECIMAL sums — so Σw and Σw² are
    // exact lattice sums and Yuen's t / Welch–Satterthwaite df are one
    // IEEE tree over them. g = ⌊n/10⌋ per group, h = n − 2g.
    Op("agg_yuen_trimmed_ttest", (s, dir) => {
      val cum = denseTypeValueCum(s, dir)
      val tot = cum.groupBy("event_type").agg(sum("cnt").as("n"))
      val g = expr("n div 10")
      // widths chosen so every product stays within DECIMAL(38) EXACTLY
      // in both engines: v(12,6)·v(12,6)→(25,12), ·kept(12,0)→(38,12)
      val v6 = col("value").cast("decimal(12,6)")
      val kept = (greatest(lit(0L),
        least(col("cum"), col("n") - g)
          - greatest(col("cum") - col("cnt"), g))).cast("decimal(12,0)")
      val gDec = expr("n div 10").cast("decimal(10,0)")
      val st = cum.join(broadcast(tot), "event_type")
        .groupBy("event_type", "n")
        .agg(
          sum(v6 * kept).as("tsum"),
          sum(v6 * v6 * kept).as("tss"),
          min(when(col("cum") >= g + 1, v6)).as("v_lo"),
          min(when(col("cum") >= col("n") - g, v6)).as("v_hi"))
        .select(col("event_type"), col("n"),
          (col("n") - expr("n div 10") * 2).as("h"),
          (col("tsum") + gDec * (col("v_lo") + col("v_hi")))
            .cast("double").as("wsum"),
          (col("tss") + gDec
            * (col("v_lo") * col("v_lo") + col("v_hi") * col("v_hi")))
            .cast("double").as("wss"),
          col("tsum").cast("double").as("tsum"))
      val (sideA, sideB) = typeSides(st, Nil, "n" -> "n", "h" -> "h",
        "wsum" -> "wsum", "wss" -> "wss", "tsum" -> "tsum")
      val nA = col("na").cast("double"); val nB = col("nb").cast("double")
      val hA = col("ha").cast("double"); val hB = col("hb").cast("double")
      val swA = (col("wssa") - col("wsuma") * col("wsuma") / nA) / (nA - 1.0)
      val swB = (col("wssb") - col("wsumb") * col("wsumb") / nB) / (nB - 1.0)
      val dA = swA * (nA - 1.0) / (hA * (hA - 1.0))
      val dB = swB * (nB - 1.0) / (hB * (hB - 1.0))
      val tmA = col("tsuma") / hA
      val tmB = col("tsumb") / hB
      val cc = dA / (dA + dB)
      val dfY = lit(1.0) / (cc * cc / (hA - 1.0)
        + (lit(1.0) - cc) * (lit(1.0) - cc) / (hB - 1.0))
      sideA.join(broadcast(sideB),
          col("type_a") < col("type_b"), "inner")
        .select(col("type_a"), col("type_b"),
          col("ha").as("h_a"), col("hb").as("h_b"),
          round(tmA, 6).as("trimmed_mean_a"),
          round(tmB, 6).as("trimmed_mean_b"),
          round((tmA - tmB) / sqrt(dA + dB), 6).as("t_yuen"),
          round(dfY, 6).as("df"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""$denseCumCtes,
             | tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
             |  FROM vc GROUP BY 1),
             | k AS (SELECT c.event_type, c.value, c.cnt, c.cum, t.n,
             |   t.n // 10 AS g FROM cum c JOIN tot t USING (event_type)),
             | st0 AS (SELECT event_type, n, g,
             |   sum(CAST(value AS DECIMAL(19,6)) * CAST(greatest(0,
             |     least(cum, n - g) - greatest(cum - cnt, g)) AS DECIMAL(12,0)))
             |     AS tsum,
             |   sum(CAST(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(12,6))
             |       AS DECIMAL(26,12))
             |     * CAST(greatest(0, least(cum, n - g) - greatest(cum - cnt, g))
             |       AS DECIMAL(12,0))) AS tss,
             |   min(CASE WHEN cum >= g + 1
             |     THEN CAST(value AS DECIMAL(12,6)) END) AS v_lo,
             |   min(CASE WHEN cum >= n - g
             |     THEN CAST(value AS DECIMAL(12,6)) END) AS v_hi
             |  FROM k GROUP BY 1, 2, 3),
             | st AS (SELECT event_type, n, n - 2 * g AS h,
             |   CAST(tsum + CAST(g AS DECIMAL(19,0)) * (v_lo + v_hi)
             |     AS DOUBLE) AS wsum,
             |   CAST(tss + CAST(g AS DECIMAL(10,0))
             |     * CAST(CAST(v_lo AS DECIMAL(19,6)) * v_lo
             |         + CAST(v_hi AS DECIMAL(19,6)) * v_hi AS DECIMAL(28,12))
             |     AS DOUBLE) AS wss,
             |   CAST(tsum AS DOUBLE) AS tsum
             |  FROM st0),
             | p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |   CAST(a.h AS BIGINT) AS h_a, CAST(b.h AS BIGINT) AS h_b,
             |   CAST(a.n AS DOUBLE) AS na, CAST(b.n AS DOUBLE) AS nb,
             |   CAST(a.h AS DOUBLE) AS ha, CAST(b.h AS DOUBLE) AS hb,
             |   a.wsum AS wsuma, a.wss AS wssa, a.tsum AS tsuma,
             |   b.wsum AS wsumb, b.wss AS wssb, b.tsum AS tsumb
             |  FROM st a JOIN st b ON a.event_type < b.event_type),
             | q AS (SELECT *,
             |   swa * (na - 1.0) / (ha * (ha - 1.0)) AS da,
             |   swb * (nb - 1.0) / (hb * (hb - 1.0)) AS db
             |  FROM (SELECT *,
             |    (wssa - wsuma * wsuma / na) / (na - 1.0) AS swa,
             |    (wssb - wsumb * wsumb / nb) / (nb - 1.0) AS swb FROM p))
             |SELECT type_a, type_b, h_a, h_b,
             | round(tsuma / ha, 6) AS trimmed_mean_a,
             | round(tsumb / hb, 6) AS trimmed_mean_b,
             | round((tsuma / ha - tsumb / hb) / sqrt(da + db), 6) AS t_yuen,
             | round(1.0 / ((da / (da + db)) * (da / (da + db)) / (ha - 1.0)
             |   + (1.0 - da / (da + db)) * (1.0 - da / (da + db)) / (hb - 1.0)),
             |   6) AS df
             |FROM q ORDER BY type_a, type_b""".stripMargin)),

    Op("agg_mann_whitney", (s, dir) => {
      val cum = denseTypeValueCum(s, dir)
      val (a, b) = typeSides(cum, Seq("value"), "cnt" -> "c", "cum" -> "cum")
      val pair = a.join(b, "value").filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
          sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          // 2U accumulates exactly: 2·ca·(cumB(<v)) + ca·cb(=v)
          sum(col("ca") * (col("cumb") - col("cb")) * 2
            + col("ca") * col("cb")).as("u2"),
          // combined tie masses for the variance correction
          sum((col("ca") + col("cb")) * (col("ca") + col("cb"))
            * (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("t3t"))
      pair.select(col("type_a"), col("type_b"),
          col("n_a"), col("n_b"),
          (col("u2") / 2.0).as("u_a"),
          round(
            (col("u2") / 2.0
              - col("n_a").cast("double") * col("n_b") / 2.0)
            / sqrt(col("n_a").cast("double") * col("n_b") / 12.0
              * ((col("n_a") + col("n_b") + 1.0)
                - col("t3t").cast("double")
                  / ((col("n_a") + col("n_b"))
                    * (col("n_a") + col("n_b") - 1.0)))), 6).as("z"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""$denseCumCtes,
             | pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |   sum(a.cnt) AS n_a, sum(b.cnt) AS n_b,
             |   sum(a.cnt * (b.cum - b.cnt) * 2 + a.cnt * b.cnt) AS u2,
             |   sum((a.cnt + b.cnt) * (a.cnt + b.cnt) * (a.cnt + b.cnt)
             |     - (a.cnt + b.cnt)) AS t3t
             |  FROM cum a JOIN cum b ON a.value = b.value
             |   AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b,
             | CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             | u2 / 2.0 AS u_a,
             | round((u2 / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
             |   / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
             |     * ((n_a + n_b + 1.0)
             |       - CAST(t3t AS DOUBLE) / ((n_a + n_b) * (n_a + n_b - 1.0)))), 6)
             |   AS z
             |FROM pair ORDER BY type_a, type_b""".stripMargin)),

    // KOLMOGOROV–SMIRNOV two-sample D between every type pair (round
    // 10) — the distribution-shift test that reads the WHOLE CDF where
    // Mann–Whitney reads a location shift: D = max_v |F_A(v) − F_B(v)|.
    // Same value-domain machine as agg_mann_whitney (one corpus hash
    // agg → densified per-type cumsums over |values|×|types| rows), and
    // the max runs in EXACT INTEGER arithmetic: |cumA·nB − cumB·nA| is
    // a long, D = maxdiff/(nA·nB) one correctly-rounded division — no
    // float CDF ever compared. Released beside the α=0.05 two-sample
    // threshold c(α)·√((nA+nB)/(nA·nB)), c = 1.358 (fixed literal), so
    // the verdict column is self-contained.
    Op("agg_ks_test", (s, dir) => {
      val cumBase = denseTypeValueCum(s, dir)
      val tot = cumBase.groupBy("event_type").agg(sum("cnt").as("n"))
      val cum = cumBase.join(broadcast(tot), "event_type")
      val (a, b) = typeSides(cum, Seq("value"), "cum" -> "cum", "n" -> "n_")
      val na = col("n_a").cast("double")
      val nb = col("n_b").cast("double")
      a.join(b, "value").filter(col("type_a") < col("type_b"))
        .withColumn("idiff",
          abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")))
        .groupBy("type_a", "type_b", "n_a", "n_b")
        .agg(max("idiff").as("maxdiff"))
        .withColumn("d_stat",
          round(col("maxdiff").cast("double") / (na * nb), 6))
        .withColumn("d_crit",
          round(lit(1.358) * sqrt((na + nb) / (na * nb)), 6))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("d_stat"), col("d_crit"),
          (col("d_stat") > col("d_crit")).as("is_significant"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""$denseCumCtes,
             | tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
             |  FROM vc GROUP BY 1),
             | cn AS (SELECT event_type, value, CAST(cum AS BIGINT) AS cum, n
             |  FROM cum JOIN tot USING (event_type)),
             | pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |   a.n AS n_a, b.n AS n_b,
             |   max(abs(a.cum * b.n - b.cum * a.n)) AS maxdiff
             |  FROM cn a JOIN cn b ON a.value = b.value
             |   AND a.event_type < b.event_type
             |  GROUP BY 1, 2, 3, 4)
             |SELECT type_a, type_b, n_a, n_b,
             | round(CAST(maxdiff AS DOUBLE)
             |   / (CAST(n_a AS DOUBLE) * n_b), 6) AS d_stat,
             | round(1.358 * sqrt((CAST(n_a AS DOUBLE) + n_b)
             |   / (CAST(n_a AS DOUBLE) * n_b)), 6) AS d_crit,
             | round(CAST(maxdiff AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b), 6)
             |   > round(1.358 * sqrt((CAST(n_a AS DOUBLE) + n_b)
             |     / (CAST(n_a AS DOUBLE) * n_b)), 6) AS is_significant
             |FROM pair ORDER BY type_a, type_b""".stripMargin)),

    // KRUSKAL–WALLIS H (1952) across ALL event types at once (round 10)
    // — the k-group omnibus generalization of agg_mann_whitney: "do ANY
    // of these k variants differ?", run before pairwise drill-down so
    // k·(k−1)/2 rank-sum tests aren't spent on a null corpus. Same
    // value-domain machine (one corpus hash agg, per-type cumsums over
    // |values|×|types| rows — the corpus is never ranked). Exactness:
    // the all-type inclusive cumulative at v is Σ_types cum_t(v) (dense
    // has every cell), so NO unpartitioned window is needed; the
    // midrank identity 2·rank(v) = 2·cumall(<v) + t_v + 1 keeps each
    // group's rank sum 2R_g an exact long (Σ_g 2R_g = N(N+1) by
    // construction — pinned in OperatorSmokeSpec); and the cross-group
    // Σ R_g²/n_g — the one spot engine-ordered float addition could
    // sneak in — accumulates on the DECIMAL(28,12) lattice after each
    // group's term is produced by the same correctly-rounded IEEE
    // expression in both engines. Tie correction C = 1 − Σ(t³−t)/(N³−N)
    // from exact integer tie masses; H_tied = H/C.
    Op("agg_kruskal_wallis", (s, dir) => {
      val cum = denseTypeValueCum(s, dir)
      val byVal = cum.groupBy("value")
        .agg(sum("cnt").as("cntall"), sum("cum").as("cumall"))
      val grp = cum.join(byVal, "value")
        .groupBy("event_type")
        .agg(sum("cnt").as("n_g"),
          sum(col("cnt") * ((col("cumall") - col("cntall")) * 2
            + col("cntall") + 1)).as("u2r"))
      val tot = byVal.agg(
        sum("cntall").as("n"),
        sum(col("cntall") * col("cntall") * col("cntall")
          - col("cntall")).as("t3t"))
      val nD = col("n").cast("double")
      val q = grp.crossJoin(tot)
        .groupBy("n", "t3t")
        .agg(count(lit(1)).as("n_groups"),
          sum(((col("u2r") / lit(2.0)) * (col("u2r") / lit(2.0))
            / col("n_g") / (nD * (nD + lit(1.0))))
            .cast("decimal(28,12)")).cast("double").as("sq"))
      val hRaw = lit(12.0) * col("sq") - lit(3.0) * (nD + lit(1.0))
      val tieC = lit(1.0) - col("t3t").cast("double") /
        (nD * nD * nD - nD)
      q.select(col("n_groups"), col("n").as("n_total"),
        (col("n_groups") - 1).as("df"),
        round(hRaw, 6).as("h_stat"),
        round(hRaw / tieC, 6).as("h_tied"))
    },
      Some(s"""$denseCumCtes,
             | byval AS (SELECT value, sum(cnt) AS cntall, sum(cum) AS cumall
             |  FROM cum GROUP BY 1),
             | grp AS (SELECT d.event_type, sum(d.cnt) AS n_g,
             |   sum(d.cnt * ((b.cumall - b.cntall) * 2 + b.cntall + 1)) AS u2r
             |  FROM dense d JOIN byval b USING (value) GROUP BY 1),
             | tot AS (SELECT sum(cntall) AS n,
             |   sum(cntall * cntall * cntall - cntall) AS t3t FROM byval),
             | q AS (SELECT n, t3t, count(*) AS n_groups,
             |   CAST(sum(CAST((u2r / 2.0) * (u2r / 2.0) / n_g
             |     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
             |     AS DECIMAL(28,12))) AS DOUBLE) AS sq
             |  FROM grp CROSS JOIN tot GROUP BY 1, 2),
             | h AS (SELECT CAST(n_groups AS BIGINT) AS n_groups,
             |   CAST(n AS BIGINT) AS n_total,
             |   CAST(n_groups AS BIGINT) - 1 AS df,
             |   12.0 * sq - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_raw,
             |   1.0 - CAST(t3t AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |     * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS c
             |  FROM q)
             |SELECT n_groups, n_total, df, round(h_raw, 6) AS h_stat,
             | round(h_raw / c, 6) AS h_tied
             |FROM h""".stripMargin)),

    // CUPED VARIANCE REDUCTION (Deng et al. 2013, "Improving the
    // Sensitivity of Online Controlled Experiments by Utilizing
    // Pre-Experiment Data") — the A/B-platform standard: adjust each
    // user's experiment-period metric y by their PRE-period metric x,
    // y_adj = y − θ(x − x̄) with θ = cov(x,y)/var(x), which shrinks
    // metric variance by the x↔y correlation² without biasing the mean.
    // Pre-period = corpus days 1–15 (ABSOLUTE day number from the corpus
    // epoch, the same datediff rule ts_survival_hazard/ts_psi_drift use —
    // not dayofmonth, which on a multi-month corpus would assign days
    // 1–15 of EVERY month to the pre-period); experiment = days 16+;
    // variant = the same
    // salted-md5 unit hash as agg_srm_chisq (the suite shares one
    // assignment rule). Determinism: per-user x/y are dsum6-exact; the
    // moment sums (Σx, Σy, Σxy, Σx²) accumulate per-user double products
    // on the DECIMAL(28,12) lattice, so θ is one correctly-rounded
    // expression over exact moments — bit-identical cross-engine, as are
    // the per-variant adjusted moments. Shape: one user-keyed agg, a
    // 1-row moment frame broadcast back, a pure projection, and one
    // |variants|-row agg. The readout: mean unchanged, variance cut —
    // var_reduction_pct is the sensitivity the platform gained.
    // EMPIRICAL-BAYES RATE SHRINKAGE (round 11) — the per-unit
    // conversion dashboard every experimentation platform ships: raw
    // per-user purchase rates are noisy at small n, so each user's MLE
    // is shrunk toward a Beta prior fit to the population by method of
    // moments (James–Stein for rates): k = m(1−m)/v − 1, posterior mean
    // (x + m·k)/(n + k). Determinism machine: per-user rates snap to
    // the integer 1e-6 lattice ((1e6·x) div n), the prior's mean and
    // variance are EXACT long sums over those lattice points (squares
    // of ≤1e6-scale ints — within long up to ~1e6 users, guarded by the
    // hi/lo release below), and the long→double release uses the 2^32
    // hi/lo split (the agg_levene_bf rule — DuckDB double-rounds
    // hugeint→double past 2^53, the split is bit-identical by
    // construction). The final shrinkage is ONE IEEE expression per
    // user from identical doubles in identical op order, released
    // unrounded. Degenerate prior (zero variance or non-positive k)
    // falls back to the lattice MLE in both engines. Shape: one corpus
    // hash agg → |users| rows; two 1-row prior frames broadcast back.
    Op("agg_eb_shrinkage", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(
          count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
        .withColumn("p_micro", expr("(1000000 * x) div n"))
      val pri = per.agg(count(lit(1)).as("nu"), sum("p_micro").as("sp"))
        .withColumn("m_micro", expr("sp div nu"))
      val mom = per.crossJoin(broadcast(pri))
        .agg(max("nu").as("nu"), max("m_micro").as("m_micro"),
          sum(expr("(p_micro - m_micro) * (p_micro - m_micro)")).as("sd2"))
      val prior = mom.select(col("sd2"),
          (col("m_micro").cast("double") / lit(1000000.0d)).as("m"),
          ((expr("sd2 div 4294967296").cast("double") * lit(4294967296.0d)
            + expr("sd2 % 4294967296").cast("double"))
            / (col("nu").cast("double") * lit(1.0e12d))).as("v"))
        .withColumn("k", when(col("sd2") > 0,
          expr("m * (1.0D - m) / v - 1.0D")))
      per.crossJoin(broadcast(prior))
        .select(col("user_id"), col("x"), col("n"),
          (col("p_micro").cast("double") / lit(1000000.0d)).as("p_mle"),
          when(col("k").isNotNull && col("k") > 0,
            expr("(x + m * k) / (n + k)"))
            .otherwise(col("p_micro").cast("double") / lit(1000000.0d))
            .as("p_shrunk"))
        .orderBy("user_id")
    },
      Some("""WITH per AS (SELECT user_id, count(*) AS n,
             |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |     AS BIGINT) AS x
             |  FROM events GROUP BY 1),
             | pm AS (SELECT user_id, n, x, (1000000 * x) // n AS p_micro
             |  FROM per),
             | pri AS (SELECT count(*) AS nu, sum(p_micro) AS sp FROM pm),
             | mm AS (SELECT nu, sp // nu AS m_micro FROM pri),
             | s2 AS (SELECT mm.nu AS nu, mm.m_micro AS m_micro,
             |   sum((pm.p_micro - mm.m_micro) * (pm.p_micro - mm.m_micro))
             |     AS sd2
             |  FROM pm, mm GROUP BY 1, 2),
             | pr AS (SELECT sd2,
             |   CAST(m_micro AS DOUBLE) / 1000000.0 AS m,
             |   (CAST(sd2 // 4294967296 AS DOUBLE) * 4294967296.0
             |     + CAST(sd2 % 4294967296 AS DOUBLE))
             |    / (CAST(nu AS DOUBLE) * 1e12) AS v
             |  FROM s2),
             | kk AS (SELECT sd2, m, v,
             |   CASE WHEN sd2 > 0 THEN m * (1.0 - m) / v - 1.0 END AS k
             |  FROM pr)
             |SELECT pm.user_id, pm.x, pm.n,
             | CAST(pm.p_micro AS DOUBLE) / 1000000.0 AS p_mle,
             | CASE WHEN kk.k IS NOT NULL AND kk.k > 0
             |      THEN (pm.x + kk.m * kk.k) / (pm.n + kk.k)
             |      ELSE CAST(pm.p_micro AS DOUBLE) / 1000000.0 END AS p_shrunk
             |FROM pm, kk ORDER BY pm.user_id""".stripMargin)),

    Op("agg_cuped_adjustment", (s, dir) => {
      val dec = "decimal(28,12)"
      // dn projected once in the scan stage (not inside each aggregate
      // expression — the two when() branches would evaluate the
      // date arithmetic twice per row)
      val per = events(s, dir)
        .select(col("user_id"), col("value"),
          ((datediff(to_date(col("ts")), lit("2024-01-01")) + 1) <= 15)
            .as("pre"))
        .groupBy("user_id").agg(
          dsum6(when(col("pre"), col("value"))
            .otherwise(lit(0.0))).as("x"),
          dsum6(when(!col("pre"), col("value"))
            .otherwise(lit(0.0))).as("y"))
      val st = per.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"))
      val adj = per.crossJoin(broadcast(st))
        .withColumn("theta",
          (col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sxx") - col("sx") * col("sx") / col("n")))
        .withColumn("y_adj",
          col("y") - col("theta") * (col("x") - col("sx") / col("n")))
        .withColumn("variant",
          when(srmArmA,
            lit("A")).otherwise(lit("B")))
      adj.groupBy("variant").agg(
          count(lit(1)).as("n_users"),
          round(max(col("theta")), 6).as("theta"),
          round(sum(col("y").cast(dec)).cast("double") / count(lit(1)), 6)
            .as("mean_y"),
          round(sum(col("y_adj").cast(dec)).cast("double") / count(lit(1)), 6)
            .as("mean_y_adj"),
          round(lit(1.0) -
            (sum((col("y_adj") * col("y_adj")).cast(dec)).cast("double")
              - sum(col("y_adj").cast(dec)).cast("double")
                * sum(col("y_adj").cast(dec)).cast("double")
                / count(lit(1)))
            / (sum((col("y") * col("y")).cast(dec)).cast("double")
              - sum(col("y").cast(dec)).cast("double")
                * sum(col("y").cast(dec)).cast("double")
                / count(lit(1))), 6).as("var_reduction"))
        .orderBy("variant")
    },
      Some(s"""WITH per AS (SELECT user_id,
             |   CAST(sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1) <= 15
             |     THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE) AS x,
             |   CAST(sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1) > 15
             |     THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE) AS y
             | FROM events GROUP BY 1),
             | st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |   CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |   CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             |   CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             |   CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
             | FROM per),
             | adj AS (SELECT per.*,
             |   (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
             |   y - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (x - sx / n) AS y_adj,
             |   CASE WHEN $srmArmASql
             |     THEN 'A' ELSE 'B' END AS variant
             | FROM per CROSS JOIN st)
             |SELECT variant, count(*) AS n_users,
             | round(max(theta), 6) AS theta,
             | round(CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_y,
             | round(CAST(sum(CAST(y_adj AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_y_adj,
             | round(1.0 -
             |   (CAST(sum(CAST(y_adj * y_adj AS DECIMAL(28,12))) AS DOUBLE)
             |     - CAST(sum(CAST(y_adj AS DECIMAL(28,12))) AS DOUBLE)
             |       * CAST(sum(CAST(y_adj AS DECIMAL(28,12))) AS DOUBLE) / count(*))
             |   / (CAST(sum(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE)
             |     - CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE)
             |       * CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) / count(*)), 6)
             |   AS var_reduction
             |FROM adj GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DELTA-METHOD RATIO-METRIC CI (round 10) — the experiment readout
    // for ratio metrics whose numerator AND denominator are both
    // per-unit random (value per event, revenue per session): the
    // randomization unit is the user, so R = Σy_u/Σx_u is a ratio of
    // means and its variance is NOT var(y)/n — the delta method gives
    // var(R) ≈ (s_y² − 2R·s_xy + R²·s_x²)/(n·x̄²) (Deng et al. 2017,
    // "Applying the Delta Method in Metric Analytics"). Per-user y
    // (dsum6) and x (count) fold in ONE user agg; per-variant moments
    // accumulate the per-user doubles on the DECIMAL(28,12) lattice
    // (the CUPED pattern, same salted-md5 assignment as agg_srm_chisq);
    // the CI is one correctly-rounded IEEE expression over exact
    // moments. Shape: one user-keyed exchange, then a |variants|-row
    // frame — nothing corpus-sized past the first agg.
    Op("agg_delta_method_ratio", (s, dir) => {
      val dec = "decimal(28,12)"
      val st = perUserXY(s, dir).groupBy("variant").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      val r = col("sy") / col("sx")
      val xbar = col("sx") / col("n")
      val vy = (col("syy") - col("sy") * col("sy") / col("n")) /
        (col("n") - lit(1.0))
      val vx = (col("sxx") - col("sx") * col("sx") / col("n")) /
        (col("n") - lit(1.0))
      val cxy = (col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("n") - lit(1.0))
      val se = sqrt((vy - lit(2.0) * r * cxy + r * r * vx) / col("n")) / xbar
      st.select(col("variant"), col("n").cast("long").as("n_users"),
          round(r, 6).as("ratio"), round(se, 6).as("se"),
          round(r - lit(1.96) * se, 6).as("ci_lo"),
          round(r + lit(1.96) * se, 6).as("ci_hi"))
        .orderBy("variant")
    },
      Some(s"""WITH per AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS x,
             |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y,
             |   CASE WHEN $srmArmASql
             |     THEN 'A' ELSE 'B' END AS variant
             |  FROM events GROUP BY 1),
             | st AS (SELECT variant, CAST(count(*) AS DOUBLE) AS n,
             |   CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |   CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             |   CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             |   CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             |   CAST(sum(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
             |  FROM per GROUP BY 1),
             | d AS (SELECT variant, n, sy / sx AS r, sx / n AS xbar,
             |   (syy - sy * sy / n) / (n - 1.0) AS vy,
             |   (sxx - sx * sx / n) / (n - 1.0) AS vx,
             |   (sxy - sx * sy / n) / (n - 1.0) AS cxy FROM st),
             | e AS (SELECT variant, n, r,
             |   sqrt((vy - 2.0 * r * cxy + r * r * vx) / n) / xbar AS se FROM d)
             |SELECT variant, CAST(n AS BIGINT) AS n_users, round(r, 6) AS ratio,
             | round(se, 6) AS se, round(r - 1.96 * se, 6) AS ci_lo,
             | round(r + 1.96 * se, 6) AS ci_hi
             |FROM e ORDER BY variant""".stripMargin)),

    // JACKKNIFE RATIO VARIANCE (round 10) — the delta method's
    // empirical cross-check, and the estimator large A/B platforms
    // actually run when the metric is too gnarly to differentiate:
    // leave-one-USER-out. Naively O(n²); the ratio's algebraic identity
    // R₍₋ᵤ₎ = (Σy − y_u)/(Σx − x_u) makes every pseudo-value computable
    // in ONE pass once the 2-row per-variant totals frame is broadcast
    // back onto the per-user frame. var_JK = (n−1)/n·Σ(R₍₋ᵤ₎ − R̄_J)²;
    // each pseudo-value is the same IEEE expression in both engines and
    // its moments accumulate on the DECIMAL(28,12) lattice, so the
    // release is bit-portable. A DeterminismSpec property pins
    // se_jackknife ≈ se_delta (they agree to O(1/n) on this metric).
    Op("agg_jackknife_ratio_var", (s, dir) => {
      val dec = "decimal(28,12)"
      val tot = perUserXY(s, dir).groupBy("variant").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"))
      val pseudo = perUserXY(s, dir).join(broadcast(tot), "variant")
        .withColumn("rl", (col("sy") - col("y")) / (col("sx") - col("x")))
      val st = pseudo.groupBy("variant").agg(
        first(col("n")).as("n"),
        first(col("sx")).as("sx"), first(col("sy")).as("sy"),
        sum(col("rl").cast(dec)).cast("double").as("srl"),
        sum((col("rl") * col("rl")).cast(dec)).cast("double").as("srr"))
      val r = col("sy") / col("sx")
      val varJk = (col("n") - lit(1.0)) / col("n") *
        (col("srr") - col("srl") * col("srl") / col("n"))
      val se = sqrt(varJk)
      st.select(col("variant"), col("n").cast("long").as("n_users"),
          round(r, 6).as("ratio"), round(se, 6).as("se_jackknife"),
          round(r - lit(1.96) * se, 6).as("ci_lo"),
          round(r + lit(1.96) * se, 6).as("ci_hi"))
        .orderBy("variant")
    },
      Some(s"""WITH per AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS x,
             |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y,
             |   CASE WHEN $srmArmASql
             |     THEN 'A' ELSE 'B' END AS variant
             |  FROM events GROUP BY 1),
             | tot AS (SELECT variant, CAST(count(*) AS DOUBLE) AS n,
             |   CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |   CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy
             |  FROM per GROUP BY 1),
             | ps AS (SELECT per.variant, n, sx, sy,
             |   (sy - y) / (sx - x) AS rl FROM per JOIN tot USING (variant)),
             | st AS (SELECT variant, max(n) AS n, max(sx) AS sx, max(sy) AS sy,
             |   CAST(sum(CAST(rl AS DECIMAL(28,12))) AS DOUBLE) AS srl,
             |   CAST(sum(CAST(rl * rl AS DECIMAL(28,12))) AS DOUBLE) AS srr
             |  FROM ps GROUP BY 1),
             | e AS (SELECT variant, n, sy / sx AS r,
             |   sqrt((n - 1.0) / n * (srr - srl * srl / n)) AS se FROM st)
             |SELECT variant, CAST(n AS BIGINT) AS n_users, round(r, 6) AS ratio,
             | round(se, 6) AS se_jackknife, round(r - 1.96 * se, 6) AS ci_lo,
             | round(r + 1.96 * se, 6) AS ci_hi
             |FROM e ORDER BY variant""".stripMargin)),

    // POWER / MINIMUM-DETECTABLE-EFFECT READOUT (round 10) — the
    // question every experiment review asks BEFORE launch: "at this
    // traffic, what lift can this metric even see?" Per event type,
    // from exact-DECIMAL (n, Σx, Σx²) — the agg_ab_ttest machine — the
    // two-arm MDE at α=0.05 / power 0.80 with the observed n split
    // 50/50: MDE = (z_{α/2}+z_β)·σ·√(2/(n/2)), plus the per-arm sample
    // size a 1%-relative-lift test would need,
    // n_req = ⌈2σ²(z_{α/2}+z_β)²/(0.01·μ)²⌉. z constants are fixed
    // literals (1.96, 0.8416); everything else is one correctly-rounded
    // IEEE expression over exact moments. One two-phase corpus agg →
    // |types| rows; nothing else moves.
    Op("agg_power_mde", (s, dir) => {
      val st = typeMoments(s, dir)
      val mean = col("sx") / col("n")
      val vr = (col("sxx") - col("sx") * col("sx") / col("n")) /
        (col("n") - lit(1.0))
      val zsum = lit(1.96 + 0.8416)
      val mde = zsum * sqrt(vr) * sqrt(lit(2.0) / (col("n") / lit(2.0)))
      st.select(col("event_type"), col("n").cast("long").as("n_obs"),
          round(mean, 6).as("mean"), round(sqrt(vr), 6).as("sd"),
          round(mde, 6).as("mde_abs"),
          round(mde / mean, 6).as("mde_rel"),
          ceil(lit(2.0) * vr * zsum * zsum /
            ((lit(0.01) * mean) * (lit(0.01) * mean)))
            .cast("long").as("n_per_arm_1pct"))
        .orderBy("event_type")
    },
      Some(s"""WITH $typeMomentsCte,
             | d AS (SELECT event_type, n, sx / n AS mean,
             |   (sxx - sx * sx / n) / (n - 1.0) AS vr FROM st),
             | e AS (SELECT event_type, n, mean, vr,
             |   (1.96 + 0.8416) * sqrt(vr) * sqrt(2.0 / (n / 2.0)) AS mde FROM d)
             |SELECT event_type, CAST(n AS BIGINT) AS n_obs, round(mean, 6) AS mean,
             | round(sqrt(vr), 6) AS sd, round(mde, 6) AS mde_abs,
             | round(mde / mean, 6) AS mde_rel,
             | CAST(ceil(2.0 * vr * (1.96 + 0.8416) * (1.96 + 0.8416)
             |   / ((0.01 * mean) * (0.01 * mean))) AS BIGINT) AS n_per_arm_1pct
             |FROM e ORDER BY event_type""".stripMargin)),

    // NELSON–AALEN CHURN HAZARD — survival analysis over the user base:
    // a user "churns" on their last active day (observed if it falls
    // before the day-25 censor boundary; right-censored otherwise), the
    // day-t risk set is everyone active on t (first_day ≤ t ≤ last_day),
    // and the release is the per-day hazard d_t/n_t plus the
    // Nelson–Aalen cumulative hazard Σ_{i≤t} d_i/n_i. The estimator is
    // chosen over Kaplan–Meier deliberately: it is PURELY ADDITIVE, so
    // every released number is exact rational arithmetic + a decimal-
    // lattice cumsum — no product chain, no exp/ln, no float flake.
    // Shape: one user-keyed span agg, a bounded ≤30-day sequence explode
    // (calendar-bounded, like ts_gap_fill's grid), two day-keyed counts
    // and one ≤25-row window. At 100 TB the spans frame IS the user
    // lifecycle table the retention team already materializes.
    Op("ts_survival_hazard", (s, dir) => {
      val censorDay = 25
      val spans = events(s, dir)
        .select(col("user_id"),
          (datediff(to_date(col("ts")), lit("2024-01-01")) + 1).as("dn"))
        .groupBy("user_id")
        .agg(min("dn").as("fd"), max("dn").as("ld"))
      // Guard: a user whose FIRST active day is past the censor boundary
      // contributes no risk rows. Without the filter, Spark's
      // sequence(fd, stop) with fd > stop yields a DESCENDING sequence
      // (default step -1) while the oracle's generate_series is empty —
      // a latent data-dependent divergence (round-9 ADVICE, medium).
      val risk = spans
        .filter(col("fd") <= censorDay)
        .select(explode(sequence(col("fd"),
          least(col("ld"), lit(censorDay)))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_risk"))
      val churn = spans.filter(col("ld") <= censorDay)
        .groupBy(col("ld").as("day")).agg(count(lit(1)).as("d_churn"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      risk.join(churn, Seq("day"), "left")
        .select(col("day"), col("n_risk"),
          coalesce(col("d_churn"), lit(0L)).as("d_churn"))
        .withColumn("hazard",
          col("d_churn").cast("double") / col("n_risk"))
        .withColumn("cum_hazard",
          sum(col("hazard").cast("decimal(28,12)")).over(w).cast("double"))
        .select(col("day"), col("n_risk"), col("d_churn"),
          round(col("hazard"), 6).as("hazard"),
          round(col("cum_hazard"), 6).as("cum_hazard"))
        .orderBy("day")
    },
      Some("""WITH spans AS (SELECT user_id,
             |   min(CAST(ts AS DATE) - DATE '2024-01-01' + 1) AS fd,
             |   max(CAST(ts AS DATE) - DATE '2024-01-01' + 1) AS ld
             | FROM events GROUP BY 1),
             | risk AS (SELECT day, count(*) AS n_risk FROM (
             |   SELECT unnest(generate_series(fd, least(ld, 25))) AS day FROM spans)
             |  GROUP BY 1),
             | churn AS (SELECT ld AS day, count(*) AS d_churn FROM spans
             |  WHERE ld <= 25 GROUP BY 1),
             | j AS (SELECT risk.day, n_risk, COALESCE(d_churn, 0) AS d_churn,
             |   CAST(COALESCE(d_churn, 0) AS DOUBLE) / n_risk AS hazard
             |  FROM risk LEFT JOIN churn USING (day))
             |SELECT CAST(day AS INT) AS day, CAST(n_risk AS BIGINT) AS n_risk,
             | CAST(d_churn AS BIGINT) AS d_churn,
             | round(hazard, 6) AS hazard,
             | round(CAST(sum(CAST(hazard AS DECIMAL(28,12))) OVER (ORDER BY day
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             |   AS cum_hazard
             |FROM j ORDER BY day""".stripMargin)),

    // POPULATION STABILITY INDEX — the drift monitor a scoring pipeline
    // runs between a reference window and current traffic: PSI =
    // Σ_buckets (p_i − q_i)·ln(p_i/q_i) over fixed-width value buckets
    // (width 25, capped at 20 — fixed edges, never data-dependent, so
    // reference and current are always comparable), with +0.5/bucket
    // smoothing so an empty bucket cannot blow up the log. Reference =
    // week 1, current = the rest. Determinism: p, q are exact rational
    // divisions, ln(p/q) snaps to the 1e-4 lattice (the dp-noise
    // pattern), contributions sum on the decimal lattice; the '~total'
    // row IS the PSI (rule of thumb: <0.1 stable, >0.25 drifted).
    // Shape: two histogram aggs over the scan + |buckets|-row math.
    Op("ts_psi_drift", (s, dir) => {
      val dn = datediff(to_date(col("ts")), lit("2024-01-01")) + 1
      val bucketed = events(s, dir)
        .select(least(floor(col("value") / 25.0), lit(19.0))
          .cast("long").as("bucket"), (dn <= 7).as("is_ref"))
      val h = bucketed.groupBy("bucket").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val tot = h.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"),
        count(lit(1)).as("nb"))
      val per = h.crossJoin(broadcast(tot))
        .withColumn("p", (col("n_ref") + lit(0.5)) / (col("tr") + lit(0.5) * col("nb")))
        .withColumn("q", (col("n_cur") + lit(0.5)) / (col("tc") + lit(0.5) * col("nb")))
        .withColumn("contrib", (col("p") - col("q")) * round(log(col("p") / col("q")), 4))
      val total = per.agg(
          sum("n_ref").as("n_ref"), sum("n_cur").as("n_cur"),
          sum(col("contrib").cast("decimal(28,12)")).cast("double").as("contrib"))
        .select(lit(-1L).as("bucket"), col("n_ref"), col("n_cur"), col("contrib"))
      per.select(col("bucket"), col("n_ref"), col("n_cur"), col("contrib"))
        .unionAll(total)
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          round(col("contrib"), 6).as("psi_contrib"))
        .orderBy("bucket")
    },
      Some("""WITH b AS (SELECT CAST(least(floor(value / 25.0), 19.0) AS BIGINT) AS bucket,
             |   (CAST(ts AS DATE) - DATE '2024-01-01' + 1) <= 7 AS is_ref
             | FROM events),
             | h AS (SELECT bucket,
             |   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             |   CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
             |  FROM b GROUP BY 1),
             | t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
             |   CAST(sum(n_cur) AS BIGINT) AS tc, count(*) AS nb FROM h),
             | per AS (SELECT bucket, n_ref, n_cur,
             |   ((n_ref + 0.5) / (tr + 0.5 * nb) - (n_cur + 0.5) / (tc + 0.5 * nb))
             |     * round(ln(((n_ref + 0.5) / (tr + 0.5 * nb))
             |       / ((n_cur + 0.5) / (tc + 0.5 * nb))), 4) AS contrib
             |  FROM h CROSS JOIN t)
             |SELECT bucket, n_ref, n_cur, round(contrib, 6) AS psi_contrib FROM per
             |UNION ALL
             |SELECT -1, CAST(sum(n_ref) AS BIGINT), CAST(sum(n_cur) AS BIGINT),
             | round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6)
             |FROM per
             |ORDER BY bucket""".stripMargin)),

    // SEASONAL-NAIVE FORECAST BACKTEST — the baseline every demand/load
    // forecaster must beat, evaluated the honest way: walk the hourly
    // history and score "this hour = same hour last week" (lag 168)
    // against "this hour = same hour yesterday" (lag 24) by MAE over
    // exactly the hours where BOTH references exist. Hourly totals are
    // dsum6-exact; |v − v_lag| is one correctly-rounded subtraction and
    // the MAE accumulates on the decimal lattice — hash-verified end to
    // end. The lag window is a single partition BY DESIGN: it ranges
    // over the hourly AGGREGATE (|calendar hours| rows — 720 for a
    // month, bounded by time, not by corpus), never raw events.
    // CUSUM CHANGEPOINT DETECTOR (Page 1954, tabular one-sided CUSUM) —
    // the level-shift monitor a traffic pipeline runs beside the sigma
    // detectors: s⁺_t = max(0, s⁺_{t−1} + x_t − μ₀ − k) accumulates
    // small persistent drifts the per-point detectors miss, alarming
    // when s⁺ crosses h. The recursion LOOKS stateful-only, but unrolls
    // to the prefix identity s⁺_t = C_t − min(0, min_{i≤t} C_i) with
    // C = cumsum(x − μ₀ − k) — two bounded windows over the HOURLY
    // AGGREGATE (|calendar hours| rows, the ts_backtest_snaive domain),
    // fully SQL-expressible and hash-checkable where a fold would need
    // a list_reduce replay. Reference μ₀, slack k = σ/2 and threshold
    // h = 4k come from the FIRST-WEEK moment frame (exact decimal sums;
    // each released as ONE 6dp-rounded scalar so the per-hour
    // subtraction runs on the decimal lattice). Everything after the
    // one events pass touches ≤ |hours| rows.
    Op("ts_changepoint_cusum", (s, dir) => {
      val dec = "decimal(28,12)"
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(dsum6(col("value")).as("x"))
      val ref = hourly
        .filter(col("h") < lit("2024-01-08 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x").cast(dec)).cast("double").as("sx"),
          sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"))
        .select(
          round(col("sx") / col("n"), 6).as("mu0"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            / col("n")) / 2.0, 6).as("k"))
      val w = Window.orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourly.crossJoin(broadcast(ref))
        .withColumn("y",
          col("x").cast(dec) - col("mu0").cast(dec) - col("k").cast(dec))
        .withColumn("c", sum(col("y")).over(w))
        .withColumn("s_plus", col("c") - least(min(col("c")).over(w),
          lit(0).cast(dec)))
        // alarm compares the RELEASED 6dp s⁺ against h = 4k (k is a
        // 6dp-rounded double, ×4 is an exact exponent shift) — both
        // operands are the same bits in either engine, no boundary flake
        .withColumn("sp6", round(col("s_plus").cast("double"), 6))
        .select(col("h"), col("x"), col("sp6").as("s_plus"),
          (col("sp6") > col("k") * 4).as("is_alarm"))
        .orderBy("h")
    },
      Some("""WITH hourly AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
             | FROM events GROUP BY 1),
             | ref AS (SELECT round(sx / n, 6) AS mu0,
             |   round(sqrt((sxx - sx * sx / n) / n) / 2.0, 6) AS k
             |  FROM (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             |    CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
             |   FROM hourly WHERE h < TIMESTAMP '2024-01-08 00:00:00')),
             | c AS (SELECT h, x, k,
             |   sum(CAST(x AS DECIMAL(28,12)) - CAST(mu0 AS DECIMAL(28,12))
             |       - CAST(k AS DECIMAL(28,12)))
             |     OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |     AS cc
             |  FROM hourly CROSS JOIN ref),
             | s AS (SELECT h, x, k,
             |   cc - least(min(cc) OVER (ORDER BY h
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |     CAST(0 AS DECIMAL(28,12))) AS s_plus
             |  FROM c)
             |SELECT h, x, round(CAST(s_plus AS DOUBLE), 6) AS s_plus,
             | round(CAST(s_plus AS DOUBLE), 6) > k * 4 AS is_alarm
             |FROM s ORDER BY h""".stripMargin)),

    Op("ts_backtest_snaive", (s, dir) => {
      val dec = "decimal(28,12)"
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(dsum6(col("value")).as("v"))
      val w = Window.orderBy("h")
      hourly
        .withColumn("v168", lag("v", 168).over(w))
        .withColumn("v24", lag("v", 24).over(w))
        .filter(col("v168").isNotNull && col("v24").isNotNull)
        .agg(
          count(lit(1)).as("n_hours"),
          round(sum(abs(col("v") - col("v168")).cast(dec)).cast("double")
            / count(lit(1)), 6).as("mae_snaive_168"),
          round(sum(abs(col("v") - col("v24")).cast(dec)).cast("double")
            / count(lit(1)), 6).as("mae_snaive_24"))
    },
      Some("""WITH hourly AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
             | FROM events GROUP BY 1),
             | lg AS (SELECT h, v,
             |   lag(v, 168) OVER (ORDER BY h) AS v168,
             |   lag(v, 24) OVER (ORDER BY h) AS v24
             | FROM hourly)
             |SELECT count(*) AS n_hours,
             | round(CAST(sum(CAST(abs(v - v168) AS DECIMAL(28,12))) AS DOUBLE)
             |   / count(*), 6) AS mae_snaive_168,
             | round(CAST(sum(CAST(abs(v - v24) AS DECIMAL(28,12))) AS DOUBLE)
             |   / count(*), 6) AS mae_snaive_24
             |FROM lg WHERE v168 IS NOT NULL AND v24 IS NOT NULL""".stripMargin)),

    // POISSON-BOOTSTRAP MEDIAN CI (Chamandy et al. 2012, "Estimating
    // Uncertainty for Massive Data Streams" — the bootstrap that works
    // at corpus scale: instead of resampling n rows with replacement,
    // each row enters replica b with weight ~ Poisson(1), so a replica
    // is ONE extra weight column, never a second pass over the data).
    // B = 20 replicas; the weight is the inverse-CDF of Poisson(1) over
    // the salted-md5 uniform (the repo's standard deterministic-uniform,
    // so replicas are engine/partition/run-stable and the whole machine
    // is hash-verified). Per-replica weighted median = smallest value
    // whose running weight reaches half the replica's total (integer
    // comparison 2·cw ≥ W — no float boundary); the CI reads the 2.5/97.5
    // percentiles off the B-row replica frame. The point estimate is the
    // plain exact median, released beside the interval.
    //
    // SHAPE (round 11, after profiling — the round-10 pre-agg attempt
    // showed the window was never the cost; the replica EXPANSION was):
    // (a) FIVE digests per event, not twenty — each md5 yields four
    //     independent 32-bit uniform lanes (8 hex chars each), so replica
    //     b reads lane (b−1)%4 of digest (b−1)/4; digest count was the
    //     dominant term of the 20× expansion scan;
    // (b) ONE corpus pass — the replica total W rides the same
    //     (type, rep) exchange as the cumsum as a full-frame window sum,
    //     replacing the second expansion scan + join of the round-10
    //     form (wdf was computed twice: once for tot, once for cum).
    Op("agg_bootstrap_median_ci", (s, dir) => {
      val bReps = 20
      // Explicit fan-out BEFORE the weight projection: the events scan
      // of a compact parquet is a single split, and without this the
      // whole 20-replica digest/conv/inverse-CDF projection runs in ONE
      // task (profiled round 11: 4.7 of the 6.2 s wall). An explicit
      // partition count keeps AQE from coalescing the tiny-by-bytes but
      // CPU-heavy exchange back to one partition.
      val evRaw = events(s, dir).select(col("event_type"), col("event_id"),
        col("value"))
      val ev = evRaw
        .repartition(s.sparkContext.defaultParallelism, col("event_id"))
      // Round 14: each digest's four 32-bit lanes come straight off the
      // digest bytes ([[graft.functions.Md5Lanes]]) — the former
      // hex-string + substring + conv(…,16,10) round trip built and
      // parsed five 32-char strings per event in the expansion scan's
      // hottest projection; the lane VALUES are identical by
      // construction (8 hex chars ≡ 4 big-endian digest bytes).
      val hs = (0 until (bReps + 3) / 4).map(c =>
        graft.functions.Md5Lanes.md5Lanes(
          concat(lit(s"boot:$c:"), col("event_id"))).as(s"h$c"))
      val withH = ev.select(
        Seq(col("event_type"), col("event_id"), col("value")) ++ hs: _*)
      def uOf(b: Int) = {
        val c = (b - 1) / 4
        val lane = (b - 1) % 4 + 1
        (element_at(col(s"h$c"), lane) + lit(0.5)) / lit(4294967296.0)
      }
      // Poisson(1) inverse CDF: cumulative e^-1 * (1/0! + 1/1! + ...)
      // as fixed shared literals (identical in the oracle), capped at 6.
      def wOf(u: org.apache.spark.sql.Column) =
        when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.9196986029286058, 2L)
          .when(u < 0.9810118431238462, 3L)
          .when(u < 0.9963401531726563, 4L)
          .when(u < 0.9994058151824183, 5L)
          .otherwise(6L)
      val rw = array((1 to bReps).map(b =>
        struct(lit(b).as("rep"), wOf(uOf(b)).as("w"))): _*)
      val wdf = withH
        .select(col("event_type"), col("event_id"), col("value"),
          explode(rw).as("rw"))
        .select(col("event_type"), col("event_id"), col("value"),
          col("rw.rep").as("rep"), col("rw.w").as("w"))
        .filter(col("w") > 0L)
      // (c) round 13: cumsum over the DENSIFIED VALUE DOMAIN, not raw
      //     weighted rows — the weighted median only reads cumulative
      //     weight at value boundaries, so collapsing (type, rep, value)
      //     first (a map-side-combinable hash agg) is exactly equivalent
      //     (min(value) where 2·cw ≥ W is unchanged by intra-value row
      //     order) and cuts the sorted window input ~9× on replicated
      //     corpora (measured sf1: 8.9 → 5.9 s same-session; the md5
      //     digest projection owns most of the remainder); on a
      //     continuous-value corpus (distinct ≈ n) the agg degrades to
      //     a no-op combine, never a second full-size shuffle.
      // The densify agg keys on (type, rep, value) but the window keys on
      // (type, rep): left to the planner that is TWO exchanges (measured
      // +1.07 s at sf0.1, where values are mostly unique and the agg
      // saves nothing). An explicit repartition on (type, rep) satisfies
      // BOTH clustered distributions, so agg and window share ONE
      // exchange — the round-12 plan's shuffle count, plus the densify.
      val vw = wdf.repartition(col("event_type"), col("rep"))
        .groupBy("event_type", "rep", "value")
        .agg(sum("w").as("w"))
      val byRep = Window.partitionBy("event_type", "rep")
      val cum = vw
        .withColumn("cw", sum("w").over(byRep.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("wtot", sum("w").over(byRep))
      val med = cum
        .filter(col("cw") * 2 >= col("wtot"))
        .groupBy("event_type", "rep").agg(min("value").as("med"))
      val ci = med.groupBy("event_type").agg(
        round(percentile(col("med"), lit(0.025)), 6).as("ci_lo"),
        round(percentile(col("med"), lit(0.975)), 6).as("ci_hi"))
      // the corpus-median branch reads the RAW scan: hanging it off `ev`
      // made a groupBy(event_type) agg pay the digest branch's event_id
      // fan-out exchange for nothing (round 14)
      evRaw.groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("median_value"))
        .join(ci, "event_type")
        .select(col("event_type"), col("median_value"), col("ci_lo"),
          col("ci_hi"))
        .orderBy("event_type")
    },
      Some(s"""WITH ev AS (SELECT event_type, event_id, value FROM events),
             | hx AS (SELECT ev.*, c,
             |     md5('boot:' || CAST(c AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)) AS h
             |   FROM ev CROSS JOIN (SELECT CAST(unnest(generate_series(0, 4)) AS INT) AS c)),
             | reps AS (SELECT CAST(unnest(generate_series(1, 20)) AS INT) AS rep),
             | x AS (SELECT event_type, event_id, value, rep,
             |     substr(h, ((rep - 1) % 4) * 8 + 1, 8) AS u8
             |   FROM hx JOIN reps ON (rep - 1) // 4 = c),
             | uw AS (SELECT event_type, event_id, value, rep,
             |     (${hexIntSql("u8", 1, 8)}
             |     + 0.5) / 4294967296.0 AS u
             |   FROM x),
             | wd AS (SELECT event_type, event_id, value, rep,
             |     CASE WHEN u < 0.36787944117144233 THEN 0
             |          WHEN u < 0.7357588823428847 THEN 1
             |          WHEN u < 0.9196986029286058 THEN 2
             |          WHEN u < 0.9810118431238462 THEN 3
             |          WHEN u < 0.9963401531726563 THEN 4
             |          WHEN u < 0.9994058151824183 THEN 5
             |          ELSE 6 END AS w
             |   FROM uw),
             | wf AS (SELECT * FROM wd WHERE w > 0),
             | cum AS (SELECT event_type, rep, value,
             |     CAST(sum(w) OVER (PARTITION BY event_type, rep
             |       ORDER BY value, event_id
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
             |     CAST(sum(w) OVER (PARTITION BY event_type, rep) AS BIGINT) AS wtot
             |   FROM wf),
             | med AS (SELECT event_type, rep, min(value) AS med
             |   FROM cum WHERE cw * 2 >= wtot GROUP BY 1, 2),
             | ci AS (SELECT event_type,
             |     round(quantile_cont(med, 0.025), 6) AS ci_lo,
             |     round(quantile_cont(med, 0.975), 6) AS ci_hi
             |   FROM med GROUP BY 1),
             | pt AS (SELECT event_type,
             |     round(quantile_cont(value, 0.5), 6) AS median_value
             |   FROM ev GROUP BY 1)
             |SELECT pt.event_type, median_value, ci_lo, ci_hi
             |FROM pt JOIN ci USING (event_type) ORDER BY event_type""".stripMargin)),

    // DAILY CONVERSION RATE with WILSON 95% CI — the uncertainty-aware
    // form of the funnel readout (a 3/7 day and a 300/700 day have the
    // same rate and wildly different evidence; the interval says so).
    // n = distinct active users per day, k = distinct users who
    // purchased; the Wilson score interval is nothing but +,-,*,/,sqrt
    // over those exact counts and the fixed z = 1.959964 — every one an
    // IEEE correctly-rounded op, so lo/rate/hi are bit-identical
    // cross-engine before the 6-dp release. Shape: one distinct-agg per
    // day (two-phase, Expand for the two distincts); the interval is a
    // scalar projection on the |days|-row aggregate.
    Op("agg_conversion_wilson_ci", (s, dir) => {
      val z = 1.959964
      val d = events(s, dir).select(
        to_date(col("ts")).as("day"), col("user_id"),
        (col("event_type") === "purchase").as("conv"))
      val agg = d.groupBy("day").agg(
        count_distinct(col("user_id")).as("n"),
        count_distinct(when(col("conv"), col("user_id"))).as("k"))
      val n = col("n").cast("double")
      val k = col("k").cast("double")
      val p = k / n
      val z2 = lit(z * z)
      val denom = lit(1.0) + z2 / n
      val center = (p + z2 / (lit(2.0) * n)) / denom
      val half = lit(z) * sqrt(p * (lit(1.0) - p) / n
        + z2 / (lit(4.0) * n * n)) / denom
      agg.select(col("day"), col("n"), col("k"),
          round(p, 6).as("rate"),
          round(center - half, 6).as("ci_lo"),
          round(center + half, 6).as("ci_hi"))
        .orderBy("day")
    },
      Some("""WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id,
             |   event_type = 'purchase' AS conv FROM events),
             | a AS (SELECT day, count(DISTINCT user_id) AS n,
             |     count(DISTINCT CASE WHEN conv THEN user_id END) AS k
             |   FROM d GROUP BY 1),
             | w AS (SELECT day, n, k,
             |     CAST(k AS DOUBLE) / n AS p,
             |     1.959964 * 1.959964 AS z2,
             |     CAST(n AS DOUBLE) AS nd
             |   FROM a)
             |SELECT day, n, k, round(p, 6) AS rate,
             | round(((p + z2 / (2.0 * nd)) / (1.0 + z2 / nd))
             |   - (1.959964 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
             |      / (1.0 + z2 / nd)), 6) AS ci_lo,
             | round(((p + z2 / (2.0 * nd)) / (1.0 + z2 / nd))
             |   + (1.959964 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
             |      / (1.0 + z2 / nd)), 6) AS ci_hi
             |FROM w ORDER BY day""".stripMargin)),

    // SAMPLE-RATIO-MISMATCH check (the experimentation-platform health
    // gate: is the 50/50 variant assignment actually landing 50/50?) —
    // chi-square goodness-of-fit per experiment readout (one per
    // event_type). Variant assignment is the repo's standard
    // deterministic-uniform: first hex nibble of the salted md5 of the
    // UNIT (user_id) < '8' -> A else B (8/16 = exactly 0.5 expected).
    // The statistic releases as (O_A-E)^2/E + (O_B-E)^2/E over exact
    // integer counts — nothing but correctly-rounded IEEE +,-,*,/ on
    // identical inputs, so it is bit-identical cross-engine with no
    // lattice games; the flag compares against the df=1, alpha=0.05
    // critical value 3.841459. Shape: one two-phase hash agg over the
    // events scan; the chi-square arithmetic runs on the |types|-row
    // aggregate. At 100 TB the unit-level hash rides the scan
    // projection — no shuffle beyond the one agg exchange.
    Op("agg_srm_chisq", (s, dir) => {
      val ev = events(s, dir).withColumn("variant",
        when(srmArmA,
          lit("A")).otherwise(lit("B")))
      ev.groupBy("event_type").agg(
          sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
        .withColumn("e", (col("n_a") + col("n_b")) / lit(2.0))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round((col("n_a") - col("e")) * (col("n_a") - col("e")) / col("e")
            + (col("n_b") - col("e")) * (col("n_b") - col("e")) / col("e"), 6)
            .as("chisq"))
        .withColumn("srm_flag", col("chisq") > 3.841459)
        .orderBy("event_type")
    },
      Some(s"""WITH v AS (SELECT event_type,
             |   CASE WHEN $srmArmASql
             |     THEN 'A' ELSE 'B' END AS variant
             | FROM events),
             | c AS (SELECT event_type,
             |   CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |   CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             | FROM v GROUP BY 1),
             | x AS (SELECT event_type, n_a, n_b, (n_a + n_b) / 2.0 AS e FROM c)
             |SELECT event_type, n_a, n_b,
             | round((n_a - e) * (n_a - e) / e + (n_b - e) * (n_b - e) / e, 6) AS chisq,
             | (round((n_a - e) * (n_a - e) / e + (n_b - e) * (n_b - e) / e, 6)
             |   > 3.841459) AS srm_flag
             |FROM x ORDER BY event_type""".stripMargin)),

    // RATE LIMITER / THROTTLE — keep the first 3 events per (user, hour)
    // by event time, drop the rest: the ingest-side guard a pipeline
    // puts in front of a hot key (runaway client, bot burst) so one
    // producer cannot flood a partition. row_number over the composite
    // (user, hour-window) key — ONE exchange on exactly the key the
    // downstream sessionizer already partitions by; the per-partition
    // sort is bounded by a user-hour's fan-in, never corpus-wide. The
    // streaming twin (StreamingThrottle) enforces the same rule with
    // O(1) counter state per open (user, window) and is parity-pinned
    // against this key's rule in StreamingSpec.
    // EVENT-TIME DISORDER AUDIT — the measurement that SIZES a streaming
    // watermark: how far behind its user's event-time high-water mark
    // does each event arrive (arrival order = event_id, the ingest
    // sequence)? The report buckets lateness into the delay classes a
    // pipeline must choose between (on-time / ≤1 min / ≤10 min / ≤1 h /
    // beyond) with the max observed lateness per class — "bucket d is
    // empty" is exactly the evidence that a 10-minute watermark loses
    // nothing. All integer-µs arithmetic over one user-keyed running
    // max; the histogram is ≤5 rows at any corpus size.
    // (The driver's synthetic feed happens to be perfectly ordered, so
    // the oracle pins the all-on-time report; the disorder buckets are
    // exercised by OperatorSmokeSpec on a scrambled fixture.)
    Op("ts_out_of_order_stats", (s, dir) =>
      outOfOrderStats(
        events(s, dir).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))),
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             | l AS (SELECT user_id, event_id,
             |     max(us) OVER (PARTITION BY user_id ORDER BY event_id) - us AS late_us
             |   FROM e),
             | b AS (SELECT CASE WHEN late_us = 0 THEN 'a_on_time'
             |     WHEN late_us <= 60000000 THEN 'b_within_1m'
             |     WHEN late_us <= 600000000 THEN 'c_within_10m'
             |     WHEN late_us <= 3600000000 THEN 'd_within_1h'
             |     ELSE 'e_over_1h' END AS bucket, late_us FROM l)
             |SELECT bucket, count(*) AS n_events, max(late_us) AS max_late_us
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    Op("ts_throttle", (s, dir) => {
      val w = Window.partitionBy(col("user_id"), date_trunc("hour", col("ts")))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("event_id"), col("user_id"),
          date_trunc("hour", col("ts")).as("w_start"), col("ts"), col("rk"))
        .orderBy("event_id")
    },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
             | r AS (SELECT event_id, user_id, date_trunc('hour', ts) AS w_start, ts,
             |     CAST(row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
             |       ORDER BY ts, event_id) AS BIGINT) AS rk
             |   FROM e)
             |SELECT event_id, user_id, w_start, ts, rk
             |FROM r WHERE rk <= 3 ORDER BY event_id""".stripMargin)),

    // Median absolute deviation per group — the robust dispersion measure
    // (outliers move stddev, not MAD). Two passes by definition (the
    // deviations need the median first): each is one two-phase agg with
    // an exact `percentile`, and the join back is a BROADCAST of the
    // group-level medians (|groups| rows — bounded by construction, the
    // size invariant that justifies the hint). Both engines interpolate
    // the order statistic identically (percentile ↔ percentile_cont,
    // the pairing agg_percentile already pins).
    Op("agg_mad", (s, dir) => {
      val med = t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med"))
      t(s, dir, "lineitem").select("l_returnflag", "l_quantity")
        .join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(round(max(col("med")), 4).as("median_qty"),
          round(percentile(abs(col("l_quantity") - col("med")), lit(0.5)), 4)
            .as("mad_qty"))
        .orderBy("l_returnflag")
    },
      Some("""WITH med AS (SELECT l_returnflag,
             |   percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med
             | FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, round(max(med), 4) AS median_qty,
             | round(percentile_cont(0.5) WITHIN GROUP
             |   (ORDER BY abs(l.l_quantity - med)), 4) AS mad_qty
             |FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Event-type TRANSITION MATRIX (the first-order Markov model of user
    // journeys — what follows what): lead over the per-user time order
    // (event_id tiebreak makes the order total), then one two-phase count
    // per (from, to) pair plus per-from probabilities via a window over
    // the 5×5 aggregate. Raw events cross ONE user-key exchange for the
    // window; the (from,to) aggregate is |types|² rows, so everything
    // after it is free at any corpus size. The probability is a single
    // correctly-rounded IEEE division of two exact counts — bit-identical
    // across engines, no rounding needed.
    Op("ts_transition_matrix", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      pairs.withColumn("p",
          col("n") / sum(col("n")).over(Window.partitionBy("from_type")))
        .orderBy("from_type", "to_type")
    },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             |  FROM events),
             | p AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
             |  FROM e),
             | c AS (SELECT from_type, to_type, count(*) AS n FROM p
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             | n / sum(n) OVER (PARTITION BY from_type) AS p
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Sequence-PATTERN detection (MATCH_RECOGNIZE / funnel-regex lite):
    // count, per user, the strictly-consecutive view→click→purchase
    // triples completing within 24 hours (the feed's median consecutive
    // gap is ~7 h, so a sub-hour bound would never fire at test scale —
    // the bound is a data-derived constant, not a semantic one).
    // Adjacency matters, which is
    // what separates this from funnel_steps' anywhere-in-order funnel.
    // Detection runs through the shared [[Cep]] template engine (one
    // lead per non-first step over the same total order = one user-key
    // exchange; row-local conjunction predicate; exact µs integer gap
    // test) — the template object is ALSO what the streaming DFA twin
    // consumes, so batch and stream can never drift.
    Op("ts_pattern_detect", (s, dir) =>
      Cep.detectBatch(events(s, dir), Cep.ViewClickPurchase),
      Some(Cep.detectSql(Cep.ViewClickPurchase))),

    // A second template through the identical engine: signup→purchase
    // within 12 h (the activation funnel, length 2 — the minimum DFA,
    // one streaming slot). Parity with StreamingPattern on this template
    // is pinned in StreamingSpec; the oracle SQL is GENERATED from the
    // same CepTemplate object as the Spark plan.
    Op("ts_pattern_template", (s, dir) =>
      Cep.detectBatch(events(s, dir), Cep.SignupPurchase),
      Some(Cep.detectSql(Cep.SignupPurchase))),

    // AUDIENCE OVERLAP: distinct users per event-type PAIR (the co-
    // occurrence / cross-feature matrix behind "users who error also
    // churn" readouts). The corpus collapses to distinct (user, type)
    // FIRST — one exchange on the user key, ≤ |types| rows per user —
    // and the pair expansion is a self-join WITHIN each user's ≤5-row
    // group (co-partitioned equi-join on user_id, no blowup), so the
    // final pair aggregate counts each user once by construction.
    Op("agg_audience_overlap", (s, dir) => {
      val d = events(s, dir).select("user_id", "event_type").distinct()
      val (a, b) = typeSides(d, Seq("user_id", "event_type"))
      a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("type_a", "type_b")
    },
      Some("""WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             | count(*) AS n_users
             |FROM d a JOIN d b ON a.user_id = b.user_id
             | AND a.event_type < b.event_type
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Z-order (Morton) key: interleave the low 16 bits of two join/filter
    // columns via the classic mask-and-shift spread — pure integer bit
    // ops, codegen-friendly, and bit-identical in any engine. Sorting a
    // write by this key bounds parquet row-group min/max stats on BOTH
    // dimensions (LayoutSpec proves the skipping); this is the multi-
    // column data-skipping layout lever for 100 TB scans.
    Op("fn_zorder", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        zorderKey(col("o_orderkey"), col("o_custkey")).as("zkey"))
        .orderBy("o_orderkey"),
      Some(s"""SELECT o_orderkey, o_custkey,
              | ${zorderSql("o_orderkey", "o_custkey")} AS zkey
              |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // LOCAL-PEAK DETECTION (round 11) — strict local maxima of the
    // dense hourly event-count series with their prominence over the
    // higher neighbor (the alerting primitive behind "traffic spiked at
    // 14:00"): cnt > prev AND cnt > next on the gap-filled grid, so a
    // missing hour reads as 0 and a spike after silence is still a
    // peak. Corpus → ONE hourly agg; the lag/lead window runs on the
    // calendar-bounded dense grid (~720 rows/month — the
    // ts_backtest_snaive allowlist class). Pure integer counts.
    Op("ts_peak_detect", (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds both the grid bounds and the join
      val grid = hourly.agg(min("h").as("h0"), max("h").as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val dense = grid.join(hourly, Seq("h"), "left").na.fill(0L, Seq("cnt"))
      val w = Window.orderBy("h")
      dense.select(col("h"), col("cnt"),
          lag("cnt", 1).over(w).as("prev_cnt"),
          lead("cnt", 1).over(w).as("next_cnt"))
        .filter(col("prev_cnt").isNotNull && col("next_cnt").isNotNull &&
          col("cnt") > col("prev_cnt") && col("cnt") > col("next_cnt"))
        .select(col("h"), col("cnt"), col("prev_cnt"), col("next_cnt"),
          (col("cnt") - greatest(col("prev_cnt"), col("next_cnt")))
            .as("prominence"))
        .orderBy("h")
    },
      Some("""WITH hourly AS (SELECT
             |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |   count(*) AS cnt FROM events GROUP BY 1),
             | grid AS (SELECT unnest(generate_series(
             |   (SELECT min(h) FROM hourly), (SELECT max(h) FROM hourly),
             |   INTERVAL 1 HOUR)) AS h),
             | dense AS (SELECT g.h, COALESCE(cnt, 0) AS cnt
             |  FROM grid g LEFT JOIN hourly USING (h)),
             | ll AS (SELECT h, cnt, lag(cnt) OVER (ORDER BY h) AS prev_cnt,
             |   lead(cnt) OVER (ORDER BY h) AS next_cnt FROM dense)
             |SELECT h, cnt, prev_cnt, next_cnt,
             | CAST(cnt - greatest(prev_cnt, next_cnt) AS BIGINT) AS prominence
             |FROM ll WHERE prev_cnt IS NOT NULL AND next_cnt IS NOT NULL
             |  AND cnt > prev_cnt AND cnt > next_cnt
             |ORDER BY h""".stripMargin)),

    // MARKOV STATIONARY DISTRIBUTION (round 11) — the long-run state
    // occupancy of the event-type transition chain (ts_transition_matrix
    // upgraded from one step to the fixed point): where does a user's
    // behavior settle? Arithmetic is FIXED-POINT INTEGER by contract so
    // the power iteration is bit-identical cross-engine with no float
    // accumulation order anywhere: P in micro-units pm = (1e6·c_ij) div
    // c_i, v₀ = 1e6 div k, and twelve iterations of
    // v'(j) = (Σ_i v(i)·pm(i,j)) div 1e6 — exact long sums, truncating
    // div, mass leakage ≤ k µunits/step by construction. The corpus is
    // touched ONCE (the per-user lag window + pair agg); the iteration
    // runs driver-side on the collected ≤|types|² grid behind a
    // tripwired `require` (the MMR-page bounded-collect idiom — the
    // state grid is vocabulary-bounded, never corpus-sized).
    Op("ts_markov_steady", (s, dir) => {
      val (_, v) = markovFixedPoint(s, dir)
      import s.implicits._
      v.toSeq.sortBy(_._1).toDF("event_type", "stationary_micro")
        .select(col("event_type"), col("stationary_micro"),
          round(col("stationary_micro") / lit(1000000.0), 6).as("stationary"))
        .orderBy("event_type")
    },
      Some(s"""$markovCtesSql
              |SELECT state AS event_type, v AS stationary_micro,
              | round(v / 1000000.0, 6) AS stationary
              |FROM v12 ORDER BY event_type""".stripMargin)),

    // MARKOV ENTROPY RATE (round 11) — how unpredictable is the NEXT
    // action given the current one? H = −Σ_i π_i Σ_j p_ij·ln p_ij over
    // the SAME micro-lattice transition grid and fixed-point π as
    // ts_markov_steady (so the two keys reconcile cell for cell): a
    // falling entropy rate means behavior is funnelling, ln|types| is
    // the ceiling. Per-cell ln terms ride Spark expressions and snap to
    // DECIMAL(28,12) before the order-free grid sum (the entropy_kl
    // rule); zero-probability cells are excluded in both engines, and
    // source-only states (i never seen as a destination, so π_i = 0
    // after one iteration) are KEPT in the cell counts on both sides —
    // Spark via v.getOrElse(i, 0), the oracle via LEFT JOIN +
    // COALESCE(v, 0) — so n_states/n_cells agree even on a corpus with
    // a first-event-only type.
    Op("ts_markov_entropy_rate", (s, dir) => {
      val (pm, v) = markovFixedPoint(s, dir)
      import s.implicits._
      val cells = pm.toSeq.map { case (i, j, p) => (i, j, p, v.getOrElse(i, 0L)) }
        .toDF("i", "j", "pm", "vi")
      val term = ((col("vi") / lit(1000000.0)) * (col("pm") / lit(1000000.0)) *
        log(col("pm") / lit(1000000.0))).cast("decimal(28,12)")
      cells.filter(col("pm") > 0L)
        .agg(countDistinct(col("i")).as("n_states"),
          count(lit(1)).as("n_cells"),
          round(-sum(term).cast("double"), 6).as("entropy_rate_nats"))
    },
      Some(s"""$markovCtesSql
              |SELECT CAST(count(DISTINCT pm.i) AS BIGINT) AS n_states,
              | count(*) AS n_cells,
              | round(-CAST(sum(CAST((COALESCE(v, 0) / 1000000.0)
              |   * (pm / 1000000.0)
              |   * ln(pm / 1000000.0) AS DECIMAL(28,12))) AS DOUBLE), 6)
              |   AS entropy_rate_nats
              |FROM pm LEFT JOIN v12 ON pm.i = v12.state WHERE pm > 0""".stripMargin)),

    // NEW-vs-RETURNING DAILY SPLIT (round 11) — the growth chart every
    // product review opens with: per day, how many active users are
    // seen for the FIRST time vs returning? first-seen rides the same
    // min-over-user window as cohort_retention (no self-join onto the
    // feed); the daily rollup runs on the deduped (user, day) frame —
    // events shuffle once, integer counts only.
    Op("ts_new_vs_returning", (s, dir) => {
      val w = Window.partitionBy("user_id")
      events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
        .withColumn("first_d", min(col("d")).over(w))
        .select(col("user_id"), col("d"), col("first_d")).distinct()
        .groupBy(col("d").as("day"))
        .agg(sum(when(col("d") === col("first_d"), 1L).otherwise(0L))
          .as("n_new"),
          sum(when(col("d") > col("first_d"), 1L).otherwise(0L))
            .as("n_returning"),
          count(lit(1)).as("n_active"))
        .select(col("day"), col("n_new"), col("n_returning"), col("n_active"),
          round(col("n_new").cast("double") / col("n_active"), 6)
            .as("new_share"))
        .orderBy("day")
    },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
             |  FROM events),
             | f AS (SELECT user_id, min(d) AS first_d FROM ud GROUP BY 1)
             |SELECT d AS day,
             | CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_new,
             | CAST(sum(CASE WHEN d > first_d THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_returning,
             | count(*) AS n_active,
             | round(CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END)
             |   AS DOUBLE) / count(*), 6) AS new_share
             |FROM ud JOIN f USING (user_id) GROUP BY d ORDER BY day""".stripMargin)),

    // INTER-ARRIVAL DISTRIBUTION (round 11) — the Poisson-process
    // health check: per-user gaps between consecutive events, bucketed
    // on a log-ish grid (1s…24h). Heavy sub-second mass = bot traffic;
    // a missing 1–10m mode = the session gap parameter is wrong (this
    // key is how the sessionizer's 30-minute gap gets justified from
    // data). One per-user lag window (user-partitioned — scale-safe),
    // then a ≤8-row bucket agg; all integer µs arithmetic.
    Op("ts_interarrival_hist", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
        .filter(col("gap_us").isNotNull)
      val tot = gaps.agg(count(lit(1)).as("ng"))
      gaps.select(
          when(col("gap_us") < 1000000L, "a_lt_1s")
            .when(col("gap_us") < 10000000L, "b_1s_10s")
            .when(col("gap_us") < 60000000L, "c_10s_1m")
            .when(col("gap_us") < 600000000L, "d_1m_10m")
            .when(col("gap_us") < 3600000000L, "e_10m_1h")
            .when(col("gap_us") < 21600000000L, "f_1h_6h")
            .when(col("gap_us") < 86400000000L, "g_6h_24h")
            .otherwise("h_ge_24h").as("bucket"),
          col("gap_us"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_gaps"), max("gap_us").as("max_gap_us"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_gaps"),
          round(col("n_gaps").cast("double") / col("ng").cast("double"), 6)
            .as("share"),
          col("max_gap_us"))
        .orderBy("bucket")
    },
      Some("""WITH g AS (SELECT user_id,
             |   epoch_us(CAST(ts AS TIMESTAMP))
             |     - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
             |       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             | gg AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL),
             | tot AS (SELECT count(*) AS ng FROM gg),
             | b AS (SELECT CASE
             |    WHEN gap_us < 1000000 THEN 'a_lt_1s'
             |    WHEN gap_us < 10000000 THEN 'b_1s_10s'
             |    WHEN gap_us < 60000000 THEN 'c_10s_1m'
             |    WHEN gap_us < 600000000 THEN 'd_1m_10m'
             |    WHEN gap_us < 3600000000 THEN 'e_10m_1h'
             |    WHEN gap_us < 21600000000 THEN 'f_1h_6h'
             |    WHEN gap_us < 86400000000 THEN 'g_6h_24h'
             |    ELSE 'h_ge_24h' END AS bucket, gap_us FROM gg)
             |SELECT bucket, count(*) AS n_gaps,
             | round(CAST(count(*) AS DOUBLE)
             |   / (SELECT CAST(ng AS DOUBLE) FROM tot), 6) AS share,
             | CAST(max(gap_us) AS BIGINT) AS max_gap_us
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),
  )
}
