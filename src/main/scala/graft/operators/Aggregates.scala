package graft.operators

import graft.Tables._
import graft.functions.WeightedAvgAgg
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** §2.4 aggregations (`KGroupedStream.count/reduce/aggregate` analog).
  * All run as two-phase HashAggregate (partial map-side combine, then a
  * single shuffle on the grouping key) — the scalable shape.
  */
object Aggregates {

  val ops: Seq[Op] = Seq(
    // TPC-H Q1 shape.
    Op("agg_hash_groupby", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              | ${dsumSql("l_quantity")} AS sum_qty,
              | ${dsumSql("l_extendedprice")} AS sum_base_price,
              | ${dsumSql("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
              | round(avg(l_quantity), 6) AS avg_qty,
              | round(avg(l_discount), 6) AS avg_disc,
              | count(*) AS cnt
              |FROM lineitem GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Op("agg_distinct_count", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          count(lit(1)).as("cnt"))
        .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, count(DISTINCT l_partkey) AS distinct_parts, count(*) AS cnt
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // HLL sketch values differ across engines — no oracle; property-tested
    // (within 5% of exact) in the unit suite instead.
    Op("agg_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts")),
      None),

    // EXACT distinct via fixed-size bitmap partials — the third point on
    // the distinct-count spectrum next to countDistinct (exact, shuffles
    // an Expand of the raw keys) and HLL (mergeable but approximate):
    // each (group, 32768-value bucket) collapses to a 4 KB bitmap in
    // the partial aggregate (Spark's bitmap_bucket_number spans 32768
    // bits per bucket), bitmaps OR-merge associatively, and the final
    // count is exact. At 100 TB the shuffle carries
    // |groups|·|id-range|/32768 4-KB rows instead of one row per
    // distinct (user, type) pair — the dense-int-key regime (user ids,
    // doc ids) where bitmaps beat both alternatives. The streaming twin
    // (StreamingBitmapDau) deliberately uses a SMALLER 4096-value /
    // 512-byte bucket span — finer state granularity per streaming key —
    // so the two share the partial-bitmap idea, not the bucket geometry.
    // The oracle is plain COUNT(DISTINCT): bitmap partials are an
    // execution strategy, not a semantics change.
    Op("agg_bitmap_distinct", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          bitmap_bucket_number(col("user_id")).as("bkt"))
        .agg(bitmap_construct_agg(bitmap_bit_position(col("user_id")))
          .as("bm"))
        .groupBy("event_type")
        .agg(sum(bitmap_count(col("bm"))).as("n_users"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Sketch-based percentile (the 100 TB default — exact percentile
    // collects per-group value multisets; the sketch is mergeable and
    // bounded). No SQL oracle (sketch internals differ across engines);
    // property-tested within 1% of exact in the unit suite.
    Op("agg_approx_percentile", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(10000))
          .as("approx_median"))
        .orderBy("o_orderstatus"),
      None),

    Op("agg_stats", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("covp_qp"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | round(stddev_samp(l_quantity), 6) AS sd_qty,
             | round(var_samp(l_quantity), 6) AS var_qty,
             | round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
             | round(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Op("agg_percentile", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50_price"),
          round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90_price"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             | round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50_price,
             | round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90_price
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // DISCRETE percentiles — the order statistic that must be an actual
    // data value (a real order's price, a real latency sample), where
    // percentile_cont's interpolation would fabricate one. No rounding
    // needed: the result is an element of the input, bit-identical by
    // construction (↔ DuckDB quantile_disc, equality probed). Same
    // two-phase agg shape as agg_percentile.
    Op("agg_percentile_disc", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_pdisc_v")
      s.sql(
        """SELECT o_orderstatus,
          | percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25_price,
          | percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50_price,
          | percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_price
          |FROM orders_pdisc_v GROUP BY 1 ORDER BY 1""".stripMargin)
    },
      Some("""SELECT o_orderstatus,
             | quantile_disc(o_totalprice, 0.25) AS p25_price,
             | quantile_disc(o_totalprice, 0.5) AS p50_price,
             | quantile_disc(o_totalprice, 0.9) AS p90_price
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Ordered string aggregation (listagg/string_agg — the report-facing
    // "show me the values" rollup). Spark 4's listagg with WITHIN GROUP
    // makes the concatenation order EXPLICIT — without it the result is
    // partition-order-dependent and unbenchable; with it the agg is a
    // deterministic two-phase fold (sorted merge of partials).
    Op("agg_listagg", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_lagg_v")
      s.sql(
        """SELECT o_orderstatus,
          | listagg(DISTINCT o_orderpriority, '|')
          |   WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
          | count(*) AS n
          |FROM orders_lagg_v GROUP BY 1 ORDER BY 1""".stripMargin)
    },
      Some("""SELECT o_orderstatus,
             | string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
             |   AS priorities,
             | count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Higher moments (skewness + excess kurtosis) from exact DECIMAL raw-
    // moment sums — never the built-in skewness()/kurtosis(), whose
    // double accumulation is summation-order-dependent. l_quantity is
    // integral and ≤ 50, so x²/x³/x⁴ are exactly representable and the
    // four DECIMAL(18,4) sums are exact; the moment formulas then run as
    // identical correctly-rounded IEEE expressions in both engines. ONE
    // two-phase hash agg computes all five accumulators — adding a
    // moment widens the map-side row, never adds a pass.
    Op("agg_skewness_kurtosis", (s, dir) => {
      val x = col("l_quantity")
      val g = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(x).as("sx"), dsum(x * x).as("sxx"),
        dsum(x * x * x).as("sxxx"), dsum(x * x * x * x).as("sxxxx"))
      val m = col("sx") / col("n")
      val varp = col("sxx") / col("n") - m * m
      g.select(col("l_returnflag"),
          round(
            (col("sxxx") / col("n") - lit(3.0) * m * (col("sxx") / col("n"))
              + lit(2.0) * m * m * m) / (varp * sqrt(varp)), 6).as("skewness"),
          round(
            (col("sxxxx") / col("n") - lit(4.0) * m * (col("sxxx") / col("n"))
              + lit(6.0) * m * m * (col("sxx") / col("n"))
              - lit(3.0) * m * m * m * m) / (varp * varp) - lit(3.0), 6)
            .as("kurtosis_excess"))
        .orderBy("l_returnflag")
    },
      // Same raw-moment formulas in the same associativity/order as the
      // engine expression — every op is a correctly-rounded IEEE double op
      // over the identical exact-decimal inputs, so the results are
      // bit-identical.
      Some(s"""WITH g AS (SELECT l_returnflag,
              |   CAST(count(*) AS DOUBLE) AS n,
              |   ${dsumSql("l_quantity")} AS sx,
              |   ${dsumSql("l_quantity * l_quantity")} AS sxx,
              |   ${dsumSql("l_quantity * l_quantity * l_quantity")} AS sxxx,
              |   ${dsumSql("l_quantity * l_quantity * l_quantity * l_quantity")} AS sxxxx
              |  FROM lineitem GROUP BY 1)
              |SELECT l_returnflag,
              | round((sxxx / n - 3.0 * (sx / n) * (sxx / n)
              |     + 2.0 * (sx / n) * (sx / n) * (sx / n))
              |   / ((sxx / n - (sx / n) * (sx / n))
              |     * sqrt(sxx / n - (sx / n) * (sx / n))), 6) AS skewness,
              | round((sxxxx / n - 4.0 * (sx / n) * (sxxx / n)
              |     + 6.0 * (sx / n) * (sx / n) * (sxx / n)
              |     - 3.0 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
              |   / ((sxx / n - (sx / n) * (sx / n))
              |     * (sxx / n - (sx / n) * (sx / n))) - 3.0, 6) AS kurtosis_excess
              |FROM g ORDER BY l_returnflag""".stripMargin)),

    // Label-distribution diagnostics per group: Shannon entropy + Gini
    // impurity of the l_linestatus class mix (the split-quality stats a
    // stratifier or router reports). Σ p·ln p is summation-order-
    // dependent in doubles, so the per-class terms fold in a PINNED
    // order: classes sort into one array per group and a left fold adds
    // them — the oracle replays the identical ordered fold with
    // list_transform + list_reduce. Two chained two-phase aggs, both
    // keyed on the flag, so the class agg's exchange is reused.
    Op("agg_entropy_gini", (s, dir) => {
      val pc = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("c"))
      pc.groupBy("l_returnflag")
        .agg(sum("c").as("n"),
          sort_array(collect_list(struct(col("l_linestatus"), col("c"))))
            .as("cs"))
        .select(col("l_returnflag"),
          round(expr("aggregate(transform(cs, x -> -(x.c / n) * ln(x.c / n))," +
            " 0D, (acc, t) -> acc + t)"), 6).as("entropy"),
          round(expr("1.0 - aggregate(transform(cs, x -> (x.c / n) * (x.c / n))," +
            " 0D, (acc, t) -> acc + t)"), 6).as("gini"))
        .orderBy("l_returnflag")
    },
      // Ordered fold mirrors the engine's sorted-array aggregate exactly:
      // list(... ORDER BY class) pins term order, transform builds the
      // identical per-class terms, reduce left-folds them (a 0-init left
      // fold and an uninitialized one agree: 0.0 + t == t in IEEE).
      Some("""WITH pc AS (SELECT l_returnflag, l_linestatus, count(*) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |pf AS (SELECT l_returnflag, sum(c) AS n,
             |   list(c ORDER BY l_linestatus) AS cs
             |  FROM pc GROUP BY 1)
             |SELECT l_returnflag,
             | round(list_reduce(list_transform(cs, x -> -(x / n) * ln(x / n)),
             |   (acc, t) -> acc + t), 6) AS entropy,
             | round(1.0 - list_reduce(list_transform(cs, x -> (x / n) * (x / n)),
             |   (acc, t) -> acc + t), 6) AS gini
             |FROM pf ORDER BY l_returnflag""".stripMargin)),

    // Weighted median (price-weighted quantity): the 50%-of-total-weight
    // order statistic, computed EXACTLY — per-value weights and their
    // running cumulative accumulate in DECIMAL, and the pick predicate
    // (2·cum ≥ total) compares exact decimals, so no float boundary
    // exists for engines to disagree on. Shape: one (flag, value) hash
    // agg collapses the fact table, then two window passes and the final
    // min ride the same flag-keyed exchange — the fact table itself
    // never sorts.
    Op("agg_weighted_percentile", (s, dir) => {
      val g = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("w"))
      val cum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("l_returnflag")
      g.withColumn("cw", sum("w").over(cum))
        .withColumn("tw", sum("w").over(tot))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(min("l_quantity").as("weighted_median_qty"))
        .orderBy("l_returnflag")
    },
      Some("""WITH g AS (SELECT l_returnflag, l_quantity,
             |   sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (SELECT l_returnflag, l_quantity,
             |   sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             |   sum(w) OVER (PARTITION BY l_returnflag) AS tw
             |  FROM g)
             |SELECT l_returnflag, min(l_quantity) AS weighted_median_qty
             |FROM c WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin)),

    // max_by/min_by with an explicit (value, key) struct tiebreak so ties on
    // o_totalprice cannot make the result nondeterministic.
    Op("agg_min_max_by", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("best_order"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("worst_order"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             | max(CASE WHEN rmax = 1 THEN o_orderkey END) AS best_order,
             | max(CASE WHEN rmin = 1 THEN o_orderkey END) AS worst_order
             |FROM (SELECT o_custkey, o_orderkey,
             |   row_number() OVER (PARTITION BY o_custkey
             |     ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             |   row_number() OVER (PARTITION BY o_custkey
             |     ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
             |  FROM orders)
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    Op("agg_grouping_sets", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt, ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Spark's ambiguous-self-join check mis-fires on join→rollup→orderBy of
    // the grouping column; routing the rollup through SQL sidesteps it.
    Op("agg_rollup", (s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select("n_name", "c_acctbal")
        .createOrReplaceTempView("graft_rollup_in")
      s.sql(
        s"""SELECT n_name, count(*) AS cust_cnt,
           | ${dsumSql("c_acctbal")} AS sum_bal
           |FROM graft_rollup_in GROUP BY ROLLUP (n_name)
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin)
    },
      Some(s"""SELECT n_name, count(*) AS cust_cnt, ${dsumSql("c_acctbal")} AS sum_bal
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY ROLLUP (n_name) ORDER BY n_name NULLS FIRST""".stripMargin)),

    // CUBE — the full 2^n grouping-set lattice (ROLLUP's superset: the
    // per-priority-only marginals too). Same Expand-based single-pass
    // plan as grouping sets; grouping_id() disambiguates real NULL keys
    // from subtotal rows in the sort, so ordering is engine-stable.
    Op("agg_cube", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_cube_in")
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority, grouping_id() AS gid,
           | count(*) AS n, ${dsumSql("o_totalprice")} AS total
           |FROM graft_cube_in GROUP BY CUBE (o_orderstatus, o_orderpriority)
           |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    },
      Some(s"""SELECT o_orderstatus, o_orderpriority,
              | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              | count(*) AS n, ${dsumSql("o_totalprice")} AS total
              |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
              |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Op("agg_having", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 12)
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS cnt FROM orders
             |GROUP BY o_custkey HAVING count(*) > 12 ORDER BY o_custkey""".stripMargin)),

    Op("udaf_weighted_avg", (s, dir) => {
      val wavg = udaf(WeightedAvgAgg)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(wavg(col("l_extendedprice"), col("l_discount")), 4).as("wavg_price"))
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag,
             | round(sum(l_extendedprice * l_discount) / sum(l_discount), 4) AS wavg_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Typed COGROUP (round 10) — the Kafka Streams `KStream#cogroup`
    // analog and the one typed-API primitive the surface was missing:
    // two keyed datasets (events by user, orders by customer) merge into
    // ONE per-key profile in a single function over both groups'
    // iterators, without materializing either side as a joined row set.
    // Spark plans it as one CoGroup exchange per side (both shuffled on
    // the key, then streamed zipper-style) — per-key cost is the two
    // group sizes, state is O(1) accumulators, and the fold never
    // buffers a group. Exactness: values fold as HALF_UP-rounded 6dp/4dp
    // micro-unit longs — the JVM-side image of the dsum6/dsum decimal
    // casts — so the released sums divide exact integers and the oracle
    // (two GROUP BYs + FULL OUTER JOIN) hash-matches bit-for-bit.
    Op("agg_cogroup_merge", (s, dir) => {
      import s.implicits._
      def micros(v: Double, scale: Int): Long =
        java.math.BigDecimal.valueOf(v)
          .setScale(scale, java.math.RoundingMode.HALF_UP)
          .movePointRight(scale).longValueExact()
      val ev = events(s, dir).select(col("user_id"), col("value"))
        .as[(Long, Double)]
      val ord = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
      ev.groupByKey(_._1).cogroup(ord.groupByKey(_._1)) { (k, as, bs) =>
        var ne = 0L; var se = 0L
        as.foreach { a => ne += 1; se += micros(a._2, 6) }
        var no = 0L; var so = 0L
        bs.foreach { b => no += 1; so += micros(b._2, 4) }
        Iterator.single((k, ne, se / 1e6, no, so / 1e4))
      }.toDF("user_id", "n_events", "sum_value", "n_orders", "sum_spend")
        .orderBy("user_id")
    },
      Some("""WITH e AS (SELECT user_id, count(*) AS n_events,
             |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             | FROM events GROUP BY 1),
             | o AS (SELECT o_custkey, count(*) AS n_orders,
             |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_spend
             | FROM orders GROUP BY 1)
             |SELECT COALESCE(e.user_id, o.o_custkey) AS user_id,
             | COALESCE(n_events, 0) AS n_events,
             | COALESCE(sum_value, 0.0) AS sum_value,
             | COALESCE(n_orders, 0) AS n_orders,
             | COALESCE(sum_spend, 0.0) AS sum_spend
             |FROM e FULL OUTER JOIN o ON e.user_id = o.o_custkey
             |ORDER BY 1""".stripMargin)),

    // Mergeable-sketch distinct count (the 100 TB pattern: per-group HLL
    // partials travel between stages, rows never re-aggregate). Bounded
    // output; no SQL oracle (sketch bits are engine-specific) — accuracy
    // pinned in OperatorSmokeSpec against exact countDistinct.
    Op("agg_hll_sketch_merge", (s, dir) => {
      val partials = t(s, dir, "documents").groupBy("source")
        .agg(hll_sketch_agg(col("text")).as("sk"))
      partials.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_distinct_docs"))
    },
      None),

    // Sketch-space AUDIENCE OVERLAP — the approximate twin of
    // agg_audience_overlap, for the regime where the exact (user, type)
    // distinct collapse is itself too hot: per-type HLL sketches are
    // mergeable partials (no user-keyed shuffle AT ALL — the corpus
    // aggregates map-side into |types| sketches), and the pairwise
    // intersection comes from inclusion-exclusion over sketch unions:
    // |A∩B| ≈ est(A) + est(B) − est(A∪B). Error is a few σ of the HLL
    // relative error (amplified by the subtraction — the documented
    // trade); OperatorSmokeSpec pins it against the exact key. The pair
    // expansion is a |types|²-row aggregate cross — free at any scale.
    Op("agg_hll_overlap", (s, dir) => {
      val sk = events(s, dir).groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val (a, b) = AnalyticsExt.typeSides(sk, Nil, "sk" -> "sk_")
      a.crossJoin(b).filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          (hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
            - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
            .as("est_overlap"))
        .orderBy("type_a", "type_b")
    },
      None),

    // Sketch-space DAU/WAU — ts_active_users at the scale where even the
    // (day, user) distinct collapse hurts: the corpus folds ONCE into
    // per-day HLL sketches (mergeable map-side partials, one day-keyed
    // exchange of |days| sketch rows), and the trailing-7-day union runs
    // on the SKETCH frame — the cover explosion multiplies |days|×7
    // sketch rows, not corpus rows (the exact key explodes every
    // (day, user) pair 7×). OperatorSmokeSpec pins both estimates
    // against the exact key. This is the canonical "restructure the
    // range-frame count-distinct as mergeable partials" answer.
    Op("ts_active_users_hll", (s, dir) => {
      val daySk = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy("d")
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val cover = daySk.select(col("sk"), col("d").as("d0"),
        posexplode(sequence(col("d"), date_add(col("d"), 6)))
          .as(Seq("off", "d")))
      cover.groupBy("d")
        .agg(
          hll_sketch_estimate(
            hll_union_agg(when(col("off") === 0, col("sk")))).as("dau_est"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau7_est"))
        .filter(col("dau_est") > 0)
        .orderBy("d")
    },
      None),

    // Top-k per group WITHOUT a window sort: mergeable bounded-heap
    // aggregator (TopKAgg) — map-side partials truncate to k, so only
    // groups×k pairs cross the shuffle and no partition is ever sorted.
    // Oracle = the row_number window formulation, proving equivalence.
    Op("agg_topk_heap", (s, dir) => {
      val topk = udaf(new graft.functions.TopKAgg(3))
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("topk"))
        .select(col("o_custkey"), posexplode(col("topk")).as(Seq("pos", "e")))
        .select(col("o_custkey"), col("e._1").as("o_totalprice"),
          col("e._2").as("o_orderkey"), (col("pos") + 1).cast("int").as("rk"))
        .orderBy("o_custkey", "rk")
    },
      // heap-aggregate top-k ≡ the window row_number formulation
      Some("""SELECT o_custkey, o_totalprice, o_orderkey, rk FROM (
             | SELECT o_custkey, o_totalprice, o_orderkey,
             |   CAST(row_number() OVER (PARTITION BY o_custkey
             |     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
             | FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),

    // Count-min point-frequency estimates (Cormode–Muthukrishnan): the
    // mergeable frequency sketch — each partition's partial is a fixed
    // w×d count grid, union is cellwise add, estimate = min over the d
    // hash rows. The 100 TB shape: per-key frequency estimates with NO
    // corpus-keyed shuffle — only bounded sketch partials move, never
    // the keys. Seeded → deterministic; ≥ exact by construction, ≤
    // exact + ε·N with the configured confidence — both bounds pinned
    // in OperatorSmokeSpec against exact counts.
    Op("agg_count_min", (s, dir) => {
      import s.implicits._
      val sk = events(s, dir)
        .agg(expr("count_min_sketch(event_type, 0.0001d, 0.99d, 42)"))
        .head.getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sk))
      Seq("click", "error", "purchase", "signup", "view")
        .map(t2 => (t2, cms.estimateCount(t2)))
        .toDF("event_type", "est_count").orderBy("event_type")
    },
      None),

    // Heavy hitters via the approx_top_k frequent-items sketch — the
    // mergeable answer to "top-k words over 100 TB" (exact top-k needs a
    // full groupBy; the sketch is one bounded-size partial per partition).
    // Accuracy vs exact counts pinned in OperatorSmokeSpec.
    Op("agg_approx_top_k", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .agg(expr("approx_top_k(word, 10)").as("topk"))
        .select(explode(col("topk")).as("e"))
        .select(col("e.*")),
      None),

    // Misra–Gries heavy hitters — the DETERMINISTIC, hard-bounded twin
    // of agg_approx_top_k (see [[graft.functions.MisraGriesAgg]]): no
    // randomness, every >N/k item guaranteed present, counts within N/k
    // of exact (both pinned in OperatorSmokeSpec). Same scale shape —
    // two-phase agg, ≤(k−1)-entry map partials on the wire, corpus
    // never shuffles.
    Op("agg_heavy_hitters_mg", (s, dir) => {
      val mg = udaf(new graft.functions.MisraGriesAgg(16),
        org.apache.spark.sql.Encoders.STRING)
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(mg(col("w")).as("mg"))
        .select(explode(col("mg")).as(Seq("word", "est_count")))
        .orderBy(desc("est_count"), col("word"))
    },
      None),
  )
}
