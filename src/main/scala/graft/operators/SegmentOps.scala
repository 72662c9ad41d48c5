package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-segmentation operators (round 11, wave 3) — the readouts a
  * product/growth team draws from the same event feed the sessionizer
  * consumes: RFM cells, engagement tiers, churn-model features, and the
  * segment-migration matrix. These are the "segmenter" half of the
  * engine's name: every key reduces the corpus to a per-entity frame in
  * ONE scan-stage aggregation, then does all classification on that
  * frame (user/customer-sized, never event-sized) with exact integer /
  * DECIMAL arithmetic only.
  *
  * Scale contract shared by all four keys:
  *  - the corpus is touched exactly once (one hash-agg exchange keyed by
  *    the entity id — map-side combinable);
  *  - rankings over the entity frame run through
  *    [[ScalableWindows.bucketedRowNumber]] (the two-level machine —
  *    no corpus-sized single-task sort, parallelism ∝ buckets);
  *  - scalar frames (corpus max date, totals, percentile thresholds)
  *    broadcast onto the entity frame — never a shuffle;
  *  - every surfaced double is either a single IEEE op over exact
  *    integers or an [[StatsExt.exactDbl]] hi/lo release of a
  *    DECIMAL(38,0) sum, so results are bit-identical cross-engine.
  */
object SegmentOps {
  import StatsExt.{exactDbl, exactDblSql}

  /** Micro-lattice (1e-6) long for events.value — exact under sum. */
  private def micro(c: Column): Column =
    (c.cast("decimal(18,6)") * 1000000).cast("long")

  /** Per-user engagement frame: one corpus agg. */
  private def userEngagement(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("ne"),
        countDistinct(to_date(col("ts"))).as("days"),
        sum(micro(col("value"))).as("y"))

  private def kmeansAssignSql(cSrc: String): String = {
    val ds = (1 to 4).map(i =>
      s"(f1 - c1_$i) * (f1 - c1_$i) + (f2 - c2_$i) * (f2 - c2_$i) AS d$i")
      .mkString(",\n|   ")
    s"""SELECT user_id, f1, f2,
       |  CASE WHEN d1 <= d2 AND d1 <= d3 AND d1 <= d4 THEN 1
       |   WHEN d2 <= d3 AND d2 <= d4 THEN 2
       |   WHEN d3 <= d4 THEN 3 ELSE 4 END AS cluster
       |FROM (SELECT user_id, f1, f2,
       |   $ds
       |  FROM feats CROSS JOIN $cSrc)""".stripMargin
  }

  /** The unrolled-CTE oracle twin of the seg_kmeans_behavior Lloyd
    * rounds: wide 1-row centroid frames c0..c3, assignment CTEs a1..a4.
    * Every CTE is `AS MATERIALIZED` and each update is ONE conditional
    * aggregation over the previous assignment (an inlined
    * scalar-subquery form re-evaluates the whole upstream chain per
    * subquery — 8³ corpus scans — and never finishes); empty clusters
    * inherit the previous centroid via COALESCE over the NULLIF'd
    * count. */
  private def kmeansUpdateSql(aPrev: String, cPrev: String): String = {
    val cols = (1 to 4).map(i =>
      s"""COALESCE(CAST(sum(CASE WHEN cluster = $i THEN f1 END)
         |     AS BIGINT)
         |    // NULLIF(count(CASE WHEN cluster = $i THEN 1 END), 0),
         |   (SELECT c1_$i FROM $cPrev)) AS c1_$i,
         |  COALESCE(CAST(sum(CASE WHEN cluster = $i THEN f2 END)
         |     AS BIGINT)
         |    // NULLIF(count(CASE WHEN cluster = $i THEN 1 END), 0),
         |   (SELECT c2_$i FROM $cPrev)) AS c2_$i""".stripMargin)
      .mkString(",\n|  ")
    s"SELECT\n|  $cols\n| FROM $aPrev".stripMargin
  }

  val ops: Seq[Op] = Seq(
    // RFM SEGMENTATION — the canonical customer segmentation: quintile-
    // score every customer on Recency (days since last order), Frequency
    // (order count), and Monetary (lifetime spend), then map the
    // (R, F, M) cell to a named segment (champions / at_risk / ...).
    // Quintiles are INTEGER-EXACT: q = ((rank−1)·5) div n + 1 over the
    // deterministic total order (metric, custkey) — no ntile tie
    // ambiguity, no float thresholds. The three ranks run FUSED through
    // ONE two-level bucketed row_number: the customer frame unpivots to
    // a 3n-row (metric, value) frame (recency negated so every metric
    // ranks ascending) and the machine partitions by metric with
    // per-metric bucket bounds — one window exchange for all three
    // ranks instead of three chained machines, each with its own
    // bounds/offset stages and checkpoint (round-12 fusion: same ranks,
    // same oracle hash, ~half the fixed stage overhead). Money rides
    // the DECIMAL(18,4) micro-lattice; shares release via the 2^32
    // hi/lo split.
    Op("seg_rfm", (s, dir) => {
      val o = t(s, dir, "orders")
      val mx = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      val per = o.groupBy(col("o_custkey").as("ck"))
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("freq"),
          sum((col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("long")).as("mon"))
        .crossJoin(broadcast(mx))
        .select(col("ck"),
          datediff(col("mxd"), col("last_d")).cast("long").as("rec"),
          col("freq"), col("mon"))
        .localCheckpoint() // shared leaf: the rank machine evaluates its
                           // input ~3x (bounds, offsets, final join) and
                           // the count/total scalars re-read it too
      val n1 = per.agg(count(lit(1)).as("nn"))
      val longF = per.selectExpr("ck",
        "stack(3, 'r', -rec, 'f', freq, 'm', mon) AS (metric, v)")
      val ranked = ScalableWindows.bucketedRowNumber(longF, Seq("metric"),
          "v", Seq(col("v"), col("ck")), perPartBounds = true)
        .crossJoin(broadcast(n1))
        .withColumn("q", expr("((rn - 1) * 5) div nn + 1").cast("int"))
      // pivot scores AND metrics back in one ck-keyed agg — rec/freq/mon
      // reconstruct from v, so no join back onto the customer frame
      val scored = ranked.groupBy("ck")
        .agg(max(when(col("metric") === "r", col("q"))).as("r_score"),
          max(when(col("metric") === "f", col("q"))).as("f_score"),
          max(when(col("metric") === "m", col("q"))).as("m_score"),
          max(when(col("metric") === "r", -col("v"))).as("rec"),
          max(when(col("metric") === "f", col("v"))).as("freq"),
          max(when(col("metric") === "m", col("v"))).as("mon"))
      val seg = scored.withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 &&
          col("m_score") >= 4, "champions")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new_customers")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .when(col("m_score") >= 4, "big_spenders")
          .when(col("f_score") >= 4, "loyal")
          .otherwise("regular"))
      val tot = per.agg(sum(col("mon").cast("decimal(38,0)")).as("tmon"))
      seg.groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("rec")).cast("double") / count(lit(1)), 6)
            .as("avg_recency_days"),
          round(sum(col("freq")).cast("double") / count(lit(1)), 6)
            .as("avg_frequency"),
          sum(col("mon").cast("decimal(38,0)")).as("monm"))
        .crossJoin(broadcast(tot))
        .select(col("segment"), col("n_customers"), col("avg_recency_days"),
          col("avg_frequency"),
          round(exactDbl("monm") / exactDbl("tmon"), 6)
            .as("monetary_share"))
        .orderBy("segment")
    },
      Some(s"""WITH o AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
              |   CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
              |     AS mi FROM orders),
              | mx AS (SELECT max(d) AS mxd FROM o),
              | per AS (SELECT ck,
              |   CAST((SELECT mxd FROM mx) - max(d) AS BIGINT) AS rec,
              |   count(*) AS freq, sum(mi) AS mon FROM o GROUP BY ck),
              | n AS (SELECT count(*) AS nn FROM per),
              | sc AS (SELECT ck, rec, freq, mon,
              |   CAST((row_number() OVER (ORDER BY rec DESC, ck) - 1) * 5
              |     // (SELECT nn FROM n) + 1 AS INT) AS r_score,
              |   CAST((row_number() OVER (ORDER BY freq, ck) - 1) * 5
              |     // (SELECT nn FROM n) + 1 AS INT) AS f_score,
              |   CAST((row_number() OVER (ORDER BY mon, ck) - 1) * 5
              |     // (SELECT nn FROM n) + 1 AS INT) AS m_score
              |  FROM per),
              | seg AS (SELECT *,
              |   CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
              |     THEN 'champions'
              |    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_customers'
              |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
              |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
              |    WHEN m_score >= 4 THEN 'big_spenders'
              |    WHEN f_score >= 4 THEN 'loyal'
              |    ELSE 'regular' END AS segment FROM sc),
              | tot AS (SELECT sum(CAST(mon AS HUGEINT)) AS tmon FROM per)
              |SELECT segment, count(*) AS n_customers,
              | round(CAST(sum(rec) AS DOUBLE) / count(*), 6)
              |   AS avg_recency_days,
              | round(CAST(sum(freq) AS DOUBLE) / count(*), 6) AS avg_frequency,
              | round(${exactDblSql("sum(CAST(mon AS HUGEINT))")}
              |   / ${exactDblSql("(SELECT tmon FROM tot)")}, 6)
              |   AS monetary_share
              |FROM seg GROUP BY segment ORDER BY segment""".stripMargin)),

    // ENGAGEMENT TIERS — split users into power / core / casual by
    // where their event count falls against the p90/p50 thresholds of
    // the user distribution, then read each tier's size and its share
    // of events and value (the "how concentrated is engagement" twin of
    // agg_gini_concentration, in tier form). The exact percentile over
    // the user frame is the oracle-checkable anchor; at 100 TB the
    // thresholds swap to one mergeable approx_percentile sketch (the
    // pipeline_curriculum_stages_approx rule) — classification and
    // shares are otherwise a broadcast compare + one tier agg. Value
    // shares release via the hi/lo split (value ≥ 0 by corpus
    // contract).
    Op("seg_power_users", (s, dir) => {
      val per = userEngagement(s, dir)
      val th = per.agg(percentile(col("ne"), lit(0.5)).as("p50"),
        percentile(col("ne"), lit(0.9)).as("p90"))
      val tot = per.agg(sum("ne").as("tne"),
        sum(col("y").cast("decimal(38,0)")).as("ty"))
      per.crossJoin(broadcast(th))
        .withColumn("tier",
          when(col("ne") >= col("p90"), "power")
            .when(col("ne") >= col("p50"), "core")
            .otherwise("casual"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_users"),
          sum("ne").as("n_events"),
          round(sum(col("days")).cast("double") / count(lit(1)), 6)
            .as("avg_active_days"),
          sum(col("y").cast("decimal(38,0)")).as("ty_t"))
        .crossJoin(broadcast(tot))
        .select(col("tier"), col("n_users"), col("n_events"),
          round(col("n_events").cast("double") / col("tne").cast("double"),
            6).as("events_share"),
          round(exactDbl("ty_t") / exactDbl("ty"), 6).as("value_share"),
          col("avg_active_days"))
        .orderBy("tier")
    },
      Some(s"""WITH per AS (SELECT user_id, count(*) AS ne,
              |   count(DISTINCT CAST(ts AS DATE)) AS days,
              |   sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
              |     AS y
              |  FROM events GROUP BY 1),
              | th AS (SELECT quantile_cont(ne, 0.5) AS p50,
              |   quantile_cont(ne, 0.9) AS p90 FROM per),
              | tiered AS (SELECT *,
              |   CASE WHEN ne >= (SELECT p90 FROM th) THEN 'power'
              |    WHEN ne >= (SELECT p50 FROM th) THEN 'core'
              |    ELSE 'casual' END AS tier FROM per),
              | tot AS (SELECT sum(ne) AS tne,
              |   sum(CAST(y AS HUGEINT)) AS ty FROM per)
              |SELECT tier, count(*) AS n_users,
              | CAST(sum(ne) AS BIGINT) AS n_events,
              | round(CAST(sum(ne) AS DOUBLE)
              |   / (SELECT CAST(tne AS DOUBLE) FROM tot), 6) AS events_share,
              | round(${exactDblSql("sum(CAST(y AS HUGEINT))")}
              |   / ${exactDblSql("(SELECT ty FROM tot)")}, 6) AS value_share,
              | round(CAST(sum(days) AS DOUBLE) / count(*), 6)
              |   AS avg_active_days
              |FROM tiered GROUP BY tier ORDER BY tier""".stripMargin)),

    // CHURN-MODEL FEATURE FRAME — the per-user design matrix a churn
    // classifier trains on: recency, tenure, volume, breadth, intensity
    // and the 14-day-inactivity label, one row per user. This is the
    // feature-engineering shape (entity, label, features) every
    // activation/retention model consumes; the whole frame falls out of
    // ONE corpus aggregation joined with the broadcast corpus-max date.
    // Ratios are single IEEE divisions over exact longs; value_sum is
    // the dsum6 exact-decimal release.
    Op("seg_churn_features", (s, dir) => {
      val mx = events(s, dir).agg(max(to_date(col("ts"))).as("mxd"))
      events(s, dir).groupBy("user_id")
        .agg(max(to_date(col("ts"))).as("last_d"),
          min(to_date(col("ts"))).as("first_d"),
          count(lit(1)).as("n_events"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          countDistinct(col("event_type")).as("n_types"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purch"),
          dsum6(col("value")).as("value_sum"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"),
          datediff(col("mxd"), col("last_d")).cast("long")
            .as("recency_days"),
          (datediff(col("last_d"), col("first_d")) + 1).cast("long")
            .as("tenure_days"),
          col("n_events"), col("active_days"), col("n_types"),
          round(col("n_purch").cast("double") / col("n_events"), 6)
            .as("purchase_ratio"),
          round(col("n_events").cast("double") / col("active_days"), 6)
            .as("events_per_active_day"),
          col("value_sum"),
          (col("last_d") <= date_sub(col("mxd"), 14)).as("churned"))
        .orderBy("user_id")
    },
      Some(s"""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events)
              |SELECT user_id,
              | CAST((SELECT mxd FROM mx) - max(CAST(ts AS DATE)) AS BIGINT)
              |   AS recency_days,
              | CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) + 1
              |   AS BIGINT) AS tenure_days,
              | count(*) AS n_events,
              | count(DISTINCT CAST(ts AS DATE)) AS active_days,
              | count(DISTINCT event_type) AS n_types,
              | round(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
              |   ELSE 0 END) AS DOUBLE) / count(*), 6) AS purchase_ratio,
              | round(CAST(count(*) AS DOUBLE)
              |   / count(DISTINCT CAST(ts AS DATE)), 6)
              |   AS events_per_active_day,
              | ${dsum6Sql("value")} AS value_sum,
              | (max(CAST(ts AS DATE)) <= (SELECT mxd FROM mx) - 14)
              |   AS churned
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // SEGMENT-MIGRATION MATRIX — how users MOVE between engagement
    // bands across the two corpus halves (the CUPED absolute-day split,
    // days 1–15 vs 16+): per-user event counts per half from one corpus
    // agg, fixed integer band edges (absent / light <10 / medium <50 /
    // heavy), then the |bands|² transition cell counts with shares.
    // The matrix is the retention diagnostic behind every "where did
    // the power users go" review; the plan is one exchange + a ≤16-row
    // grid.
    Op("seg_migration_matrix", (s, dir) => {
      val dayN = datediff(to_date(col("ts")), lit("2024-01-01")) + 1
      def band(c: Column): Column =
        when(c === 0L, "absent").when(c < 10L, "light")
          .when(c < 50L, "medium").otherwise("heavy")
      val per = events(s, dir)
        .groupBy("user_id")
        .agg(sum(when(dayN <= 15, 1L).otherwise(0L)).as("npre"),
          sum(when(dayN > 15, 1L).otherwise(0L)).as("npost"))
      val tot = per.agg(count(lit(1)).as("nu"))
      per.select(band(col("npre")).as("tier_pre"),
          band(col("npost")).as("tier_post"))
        .groupBy("tier_pre", "tier_post")
        .agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(tot))
        .select(col("tier_pre"), col("tier_post"), col("n_users"),
          round(col("n_users").cast("double") / col("nu").cast("double"),
            6).as("share"))
        .orderBy("tier_pre", "tier_post")
    },
      Some("""WITH per AS (SELECT user_id,
             |   sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
             |     <= 15 THEN 1 ELSE 0 END) AS npre,
             |   sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
             |     > 15 THEN 1 ELSE 0 END) AS npost
             |  FROM events GROUP BY 1),
             | tot AS (SELECT count(*) AS nu FROM per),
             | bands AS (SELECT
             |   CASE WHEN npre = 0 THEN 'absent' WHEN npre < 10 THEN 'light'
             |    WHEN npre < 50 THEN 'medium' ELSE 'heavy' END AS tier_pre,
             |   CASE WHEN npost = 0 THEN 'absent' WHEN npost < 10 THEN 'light'
             |    WHEN npost < 50 THEN 'medium' ELSE 'heavy' END AS tier_post
             |  FROM per)
             |SELECT tier_pre, tier_post, count(*) AS n_users,
             | round(CAST(count(*) AS DOUBLE)
             |   / (SELECT CAST(nu AS DOUBLE) FROM tot), 6) AS share
             |FROM bands GROUP BY 1, 2 ORDER BY tier_pre, tier_post""".stripMargin)),

    // INTER-PURCHASE CADENCE (round 12) — the time-between-orders
    // segmentation every replenishment/lifecycle program reads: gaps
    // from a lag over each customer's order history, customers banded
    // by MEAN gap (≈monthly / quarterly / ≤yearly / rare; single-order
    // customers are their own band — they have no gap), then per-band
    // size, order depth, and the pooled mean/max gap. Shape: ONE
    // orders exchange — the lag window partitions by o_custkey
    // (high-cardinality entity key, not an enum floor) and the per-
    // customer agg reuses that hash; the band rollup is a ≤5-row agg.
    // All gap arithmetic is exact-long datediffs; each mean is one
    // IEEE division (identical cross-engine), banding compares that
    // one division against integer literals.
    Op("seg_interpurchase_time", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ck").orderBy(col("d"), col("ok"))
      val per = t(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          to_date(col("o_orderdate")).as("d"), col("o_orderkey").as("ok"))
        .withColumn("gap",
          datediff(col("d"), lag("d", 1).over(w)).cast("long"))
        .groupBy("ck")
        .agg(count(lit(1)).as("n_orders"), count(col("gap")).as("n_gaps"),
          sum("gap").as("gap_sum"), max("gap").as("max_gap"))
      val mean = col("gap_sum").cast("double") / col("n_gaps")
      per.withColumn("cadence",
          when(col("n_gaps") === 0L, "e_single")
            .when(mean < 60.0, "a_monthly")
            .when(mean < 180.0, "b_quarterly")
            .when(mean < 365.0, "c_yearly")
            .otherwise("d_rare"))
        .groupBy("cadence")
        .agg(count(lit(1)).as("n_customers"),
          round(sum("n_orders").cast("double") / count(lit(1)), 6)
            .as("avg_orders"),
          when(sum("n_gaps") === 0L, lit(null).cast("double"))
            .otherwise(round(sum("gap_sum").cast("double") / sum("n_gaps"),
              6)).as("mean_gap_days"),
          max("max_gap").as("max_gap_days"))
        .orderBy("cadence")
    },
      Some("""WITH o AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
             |   o_orderkey AS ok FROM orders),
             | g AS (SELECT ck, CAST(d - lag(d) OVER (PARTITION BY ck
             |     ORDER BY d, ok) AS BIGINT) AS gap FROM o),
             | per AS (SELECT ck, count(*) AS n_orders,
             |   count(gap) AS n_gaps, CAST(sum(gap) AS BIGINT) AS gap_sum,
             |   max(gap) AS max_gap FROM g GROUP BY ck),
             | b AS (SELECT *, CASE WHEN n_gaps = 0 THEN 'e_single'
             |    WHEN CAST(gap_sum AS DOUBLE) / n_gaps < 60.0 THEN 'a_monthly'
             |    WHEN CAST(gap_sum AS DOUBLE) / n_gaps < 180.0 THEN 'b_quarterly'
             |    WHEN CAST(gap_sum AS DOUBLE) / n_gaps < 365.0 THEN 'c_yearly'
             |    ELSE 'd_rare' END AS cadence FROM per)
             |SELECT cadence, count(*) AS n_customers,
             | round(CAST(sum(n_orders) AS DOUBLE) / count(*), 6) AS avg_orders,
             | CASE WHEN sum(n_gaps) = 0 THEN NULL
             |   ELSE round(CAST(sum(gap_sum) AS DOUBLE) / sum(n_gaps), 6)
             |   END AS mean_gap_days,
             | max(max_gap) AS max_gap_days
             |FROM b GROUP BY cadence ORDER BY cadence""".stripMargin)),

    // BEHAVIORAL K-MEANS (round 11) — the segmenter TRAINING its own
    // segments: cluster users in the (event volume, purchase volume)
    // plane with k=4 and three Lloyd rounds, in FIXED-POINT INTEGER
    // arithmetic end to end (the ts_markov_steady contract — the
    // oracle replays the identical integer recurrence as unrolled
    // CTEs): features are exact longs (f2 = 10·purchases to balance
    // scales), init centroids sit at range fractions
    // min + (span·(2k−1)) div 8 (exact integer div — no percentile
    // interpolation off the lattice), assignment is exact-long argmin
    // of squared distance with ties to the LOWEST cluster id, and the
    // update is sum div count with empty clusters keeping their old
    // centroid. Scale: each round is one broadcast-centroid projection
    // + one 4-row agg (the sim_kmeans_train shape); only the ≤k-row
    // centroid frame is ever collected (tripwired).
    Op("seg_kmeans_behavior", (s, dir) => {
      val k = 4
      val feats = events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("f1"),
          (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            * 10L).as("f2"))
        .localCheckpoint() // scanned once per Lloyd round + the range agg
      val rangeRow = feats.agg(min("f1").as("lo1"), max("f1").as("hi1"),
        min("f2").as("lo2"), max("f2").as("hi2")).collect()(0)
      val (lo1, hi1, lo2, hi2) = (rangeRow.getLong(0), rangeRow.getLong(1),
        rangeRow.getLong(2), rangeRow.getLong(3))
      var cents: Seq[(Int, Long, Long)] = (1 to k).map { i =>
        (i, lo1 + (hi1 - lo1) * (2 * i - 1) / 8,
          lo2 + (hi2 - lo2) * (2 * i - 1) / 8)
      }
      def assigned: DataFrame = {
        val d = cents.map { case (i, c1, c2) =>
          ((col("f1") - lit(c1)) * (col("f1") - lit(c1)) +
            (col("f2") - lit(c2)) * (col("f2") - lit(c2))).as(s"d$i")
        }
        val cl = when(col("d1") <= col("d2") && col("d1") <= col("d3") &&
            col("d1") <= col("d4"), 1)
          .when(col("d2") <= col("d3") && col("d2") <= col("d4"), 2)
          .when(col("d3") <= col("d4"), 3).otherwise(4)
        feats.select(col("f1") +: col("f2") +: d: _*)
          .withColumn("cluster", cl)
      }
      for (_ <- 1 to 3) {
        val upd = assigned.groupBy("cluster")
          .agg(count(lit(1)).as("n"), sum("f1").as("s1"), sum("f2").as("s2"))
          .collect().map(r => r.getInt(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        require(upd.size <= k, "kmeans centroid-frame tripwire")
        cents = cents.map { case (i, c1, c2) =>
          upd.get(i) match {
            case Some((n, s1, s2)) if n > 0 => (i, s1 / n, s2 / n)
            case _ => (i, c1, c2) // empty cluster keeps its centroid
          }
        }
      }
      val out = assigned.groupBy("cluster")
        .agg(count(lit(1)).as("n_users"),
          round(sum("f1").cast("double") / count(lit(1)), 6)
            .as("mean_events"),
          round(sum("f2").cast("double") / lit(10.0) / count(lit(1)), 6)
            .as("mean_purchases"))
      val cdf = {
        import s.implicits._
        cents.toDF("cluster", "c1", "c2")
      }
      out.join(broadcast(cdf), Seq("cluster"))
        .select(col("cluster"), col("n_users"), col("mean_events"),
          col("mean_purchases"), col("c1").as("centroid_f1"),
          col("c2").as("centroid_f2"))
        .orderBy("cluster")
    },
      Some {
        val c0cols = (1 to 4).map(i =>
          s"lo1 + (hi1 - lo1) * ${2 * i - 1} // 8 AS c1_$i, " +
            s"lo2 + (hi2 - lo2) * ${2 * i - 1} // 8 AS c2_$i").mkString(", ")
        s"""WITH feats AS MATERIALIZED (SELECT user_id, count(*) AS f1,
           |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
           |     END) * 10 AS BIGINT) AS f2
           |  FROM events GROUP BY 1),
           | rng AS MATERIALIZED (SELECT CAST(min(f1) AS BIGINT) AS lo1,
           |   CAST(max(f1) AS BIGINT) AS hi1,
           |   CAST(min(f2) AS BIGINT) AS lo2,
           |   CAST(max(f2) AS BIGINT) AS hi2 FROM feats),
           | c0 AS MATERIALIZED (SELECT $c0cols FROM rng),
           | a1 AS MATERIALIZED (${kmeansAssignSql("c0")}),
           | c1 AS MATERIALIZED (${kmeansUpdateSql("a1", "c0")}),
           | a2 AS MATERIALIZED (${kmeansAssignSql("c1")}),
           | c2 AS MATERIALIZED (${kmeansUpdateSql("a2", "c1")}),
           | a3 AS MATERIALIZED (${kmeansAssignSql("c2")}),
           | c3 AS MATERIALIZED (${kmeansUpdateSql("a3", "c2")}),
           | a4 AS MATERIALIZED (${kmeansAssignSql("c3")})
           |SELECT cluster, count(*) AS n_users,
           | round(CAST(sum(f1) AS DOUBLE) / count(*), 6) AS mean_events,
           | round(CAST(sum(f2) AS DOUBLE) / 10.0 / count(*), 6)
           |   AS mean_purchases,
           | (SELECT CASE cluster WHEN 1 THEN c1_1 WHEN 2 THEN c1_2
           |   WHEN 3 THEN c1_3 ELSE c1_4 END FROM c3) AS centroid_f1,
           | (SELECT CASE cluster WHEN 1 THEN c2_1 WHEN 2 THEN c2_2
           |   WHEN 3 THEN c2_3 ELSE c2_4 END FROM c3) AS centroid_f2
           |FROM a4 GROUP BY cluster ORDER BY cluster""".stripMargin
      }),
  )
}
