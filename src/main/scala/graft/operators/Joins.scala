package graft.operators

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.3 join matrix. Strategy notes for 100TB scale:
  *  - dims (nation/region/customer-at-small-sf) are broadcast explicitly —
  *    no shuffle of the fact side;
  *  - the two large-table joins pin their physical strategy via hints
  *    (merge / shuffle_hash) so the plan is stable across AQE decisions;
  *  - the as-of join avoids the pairwise-blowup formulation entirely: it is
  *    a union + per-key ordered window (`last(ignoreNulls)`) — one shuffle
  *    by key, no candidate explosion, the classic scalable as-of pattern.
  */
object Joins {

  val ops: Seq[Op] = Seq(
    Op("join_broadcast", (s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("order_cnt"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("n_name"),
      Some(s"""SELECT n_name, count(*) AS order_cnt, ${dsumSql("o_totalprice")} AS total_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    Op("join_sortmerge", (s, dir) =>
      t(s, dir, "lineitem").hint("merge")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("li_cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus"),
      Some(s"""SELECT o_orderstatus, count(*) AS li_cnt, ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    Op("join_shuffle_hash", (s, dir) =>
      t(s, dir, "lineitem").hint("shuffle_hash")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("li_cnt"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus"),
      Some(s"""SELECT o_orderstatus, count(*) AS li_cnt, ${dsumSql("l_extendedprice")} AS sum_price
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    Op("join_left_outer", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_cnt"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, count(o_orderkey) AS order_cnt
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    Op("join_full_outer", (s, dir) => {
      val sup = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("s_cnt"))
      val cus = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("c_cnt"))
      sup.join(cus, col("nk_s") === col("nk_c"), "full")
        .select(coalesce(col("nk_s"), col("nk_c")).as("nationkey"),
          col("s_cnt"), col("c_cnt"))
        .orderBy("nationkey")
    },
      Some("""SELECT coalesce(s.nk, c.nk) AS nationkey, s.s_cnt, c.c_cnt
             |FROM (SELECT s_nationkey AS nk, count(*) AS s_cnt FROM supplier GROUP BY 1) s
             |FULL JOIN (SELECT c_nationkey AS nk, count(*) AS c_cnt FROM customer GROUP BY 1) c
             |ON s.nk = c.nk ORDER BY nationkey""".stripMargin)),

    Op("join_semi", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    Op("join_anti", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    Op("join_cross_theta", (s, dir) =>
      t(s, dir, "region")
        .join(t(s, dir, "nation"), col("n_regionkey") =!= col("r_regionkey"))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("r_regionkey", "n_nationkey"),
      Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
             |FROM region JOIN nation ON n_regionkey <> r_regionkey
             |ORDER BY r_regionkey, n_nationkey""".stripMargin)),

    // For each purchase event: clicks by the same user in the preceding hour.
    // KEYLESS range join at scale: events ⋈ derived "hot windows" with no
    // equi key at all. The scale technique: explode each 2h window into
    // its covering hour buckets, bucket each event once, equi-join on the
    // bucket, then apply the exact range as a residual filter — candidates
    // ∝ events-in-covered-hours, never |events|×|windows| (the BNLJ a
    // naive theta join would plan; the no-cartesian sweep enforces this
    // stays equi-join shaped).
    Op("join_range_bucketed", (s, dir) => {
      val e = events(s, dir)
      val hot = e.filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("w_start"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 8)
        .select(col("w_start"), (col("w_start") + expr("interval 2 hours")).as("w_end"))
      val hotB = hot.withColumn("bucket",
        explode(sequence(col("w_start"), col("w_start") + expr("interval 1 hour"),
          expr("interval 1 hour"))))
      e.withColumn("bucket", date_trunc("hour", col("ts")))
        .join(hotB, Seq("bucket"))
        .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy("w_start").agg(count(lit(1)).as("n_events"))
        .orderBy("w_start")
    },
      Some("""WITH hot AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start
             |  FROM events WHERE event_type = 'purchase'
             |  GROUP BY 1 HAVING count(*) >= 8)
             |SELECT h.w_start, count(*) AS n_events
             |FROM events e JOIN hot h
             |  ON CAST(e.ts AS TIMESTAMP) >= h.w_start
             | AND CAST(e.ts AS TIMESTAMP) < h.w_start + INTERVAL 2 HOUR
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Op("join_range_interval", (s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      p.join(c, col("p_user") === col("c_user")
          && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
          && col("c_ts") < col("p_ts"), "left")
        .groupBy("event_id").agg(count(col("c_ts")).as("clicks_1h"))
        .orderBy("event_id")
    },
      Some("""SELECT p.event_id, count(c.cts) AS clicks_1h
             |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts FROM events
             |      WHERE event_type = 'purchase') p
             |LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts FROM events
             |      WHERE event_type = 'click') c
             |ON p.user_id = c.user_id AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Interval-OVERLAP self-join (both sides are intervals — distinct
    // from join_range_interval's point-in-window): per order, pairs of
    // line items whose [shipdate, receiptdate] transit windows overlap,
    // aggregated to overlap-pair count + total overlap days. The order
    // key is the blocking key: the overlap predicate only ever evaluates
    // within an order's ≤7 lines, so the join is a plain co-partitioned
    // equi-join — one hash exchange per side, no interval blowup, and at
    // 100 TB it inherits whatever bucketing the fact table carries. An
    // unblocked interval join would bucketize the time axis instead
    // (join_range_bucketed shows that shape).
    Op("join_interval_overlap", (s, dir) => {
      // The transit window end is derived (this feed carries no receipt
      // date): shipdate + (⌊quantity⌋ mod 30) days — floor() because a
      // double→int CAST truncates in Spark but rounds in DuckDB.
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          date_add(col("l_shipdate"),
            (floor(col("l_quantity")).cast("int") % 30)).as("l_enddate"))
      val a = l.select(col("l_orderkey"), col("l_linenumber").as("ln1"),
        col("l_shipdate").as("s1"), col("l_enddate").as("r1"))
      val b = l.select(col("l_orderkey"), col("l_linenumber").as("ln2"),
        col("l_shipdate").as("s2"), col("l_enddate").as("r2"))
      a.join(b, Seq("l_orderkey"))
        .filter(col("ln1") < col("ln2") &&
          col("s1") <= col("r2") && col("s2") <= col("r1"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_pairs"),
          sum(datediff(least(col("r1"), col("r2")),
            greatest(col("s1"), col("s2")))).as("overlap_days"))
        .orderBy("l_orderkey")
    },
      Some("""WITH l AS (SELECT l_orderkey, l_linenumber, l_shipdate,
             |   l_shipdate + to_days(CAST(floor(l_quantity) AS INT) % 30) AS l_enddate
             | FROM lineitem)
             |SELECT a.l_orderkey, count(*) AS n_pairs,
             | CAST(sum(datediff('day', greatest(a.l_shipdate, b.l_shipdate),
             |   least(a.l_enddate, b.l_enddate))) AS BIGINT) AS overlap_days
             |FROM l a JOIN l b
             | ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
             | AND a.l_shipdate <= b.l_enddate AND b.l_shipdate <= a.l_enddate
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Latest order at-or-before each event's timestamp per user. Implemented
    // shuffle-free of pair blowup: union orders+events on (key, ts), then a
    // running `last(order, ignoreNulls)` window per key. Ties on
    // (o_orderdate): max o_orderkey wins (order by o_key asc, last picked).
    Op("join_asof", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey").as("k"), col("o_orderdate").as("ats"),
        col("o_orderkey").as("o_key"), lit(null).cast("long").as("event_id"),
        lit(0).as("typ"))
      val e = events(s, dir).select(
        col("user_id").as("k"), col("ts").as("ats"),
        lit(null).cast("long").as("o_key"), col("event_id"), lit(1).as("typ"))
      val w = Window.partitionBy("k")
        .orderBy(col("ats"), col("typ"), col("o_key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.unionByName(e)
        .withColumn("asof_orderkey", last(col("o_key"), ignoreNulls = true).over(w))
        .filter(col("typ") === 1 && col("asof_orderkey").isNotNull)
        .select("event_id", "asof_orderkey")
        .orderBy("event_id")
    },
      Some("""SELECT event_id, o_orderkey AS asof_orderkey FROM (
             |  SELECT e.event_id, o.o_orderkey,
             |    row_number() OVER (PARTITION BY e.event_id
             |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
             |  FROM events e JOIN orders o
             |    ON e.user_id = o.o_custkey AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP))
             |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // As-of join with a STALENESS BOUND (pandas merge_asof `tolerance`):
    // per purchase, the latest click by the same user at-or-before it,
    // but only if that click is at most 30 minutes old — the "last-touch
    // attribution window". An out-of-window click is dropped, not
    // substituted (any earlier click is staler still, so the latest-
    // within-tolerance IS the overall latest when one qualifies). Same
    // union-and-scan shape as join_asof — one exchange on the user key,
    // no pair blowup — with the picked row's own timestamp carried by a
    // second last(ignoreNulls) over the identical frame (both pick from
    // the same last typ=0 row), so the tolerance test is a post-window
    // filter, free of joins.
    Op("join_asof_tolerance", (s, dir) => {
      val ev = events(s, dir)
      val c = ev.filter(col("event_type") === "click").select(
        col("user_id").as("k"), col("ts").as("ats"),
        col("event_id").as("c_key"), lit(null).cast("long").as("p_key"),
        lit(0).as("typ"))
      val p = ev.filter(col("event_type") === "purchase").select(
        col("user_id").as("k"), col("ts").as("ats"),
        lit(null).cast("long").as("c_key"), col("event_id").as("p_key"),
        lit(1).as("typ"))
      val w = Window.partitionBy("k")
        .orderBy(col("ats"), col("typ"), col("c_key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.unionByName(p)
        .withColumn("asof_click", last(col("c_key"), ignoreNulls = true).over(w))
        .withColumn("asof_ts",
          last(when(col("typ") === 0, col("ats")), ignoreNulls = true).over(w))
        .filter(col("typ") === 1 && col("asof_click").isNotNull &&
          col("asof_ts") >= col("ats") - expr("INTERVAL 30 MINUTES"))
        .select(col("p_key").as("event_id"), col("asof_click"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, c_id AS asof_click FROM (
             |  SELECT p.event_id, c.event_id AS c_id,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY c.ts2 DESC, c.event_id DESC) AS rn
             |  FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts2
             |     FROM events WHERE event_type = 'purchase') p
             |  JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts2
             |     FROM events WHERE event_type = 'click') c
             |    ON p.user_id = c.user_id AND c.ts2 <= p.ts2
             |    AND c.ts2 >= p.ts2 - INTERVAL 30 MINUTE)
             |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // NEAREST as-of (merge_asof direction='nearest'): per purchase, the
    // click with the smallest |time gap| in EITHER direction, ties to the
    // backward (earlier) side. One union-and-scan pass evaluates BOTH
    // directions — a preceding frame picks the last click at-or-before,
    // a following frame the first click strictly after (same-instant
    // clicks sort before the purchase, so they land in the backward
    // frame exactly once) — then the winner is a per-row comparison of
    // the two µs gaps. The following frame is `nextNonNull`'s mirrored
    // running frame: rows tie on the sort only between purchases, whose
    // click columns are null, so it picks what first IGNORE NULLS over the
    // following rows would, in one pass instead of O(n²). Still one
    // exchange on the user key (the two directions sort that partitioning
    // twice), no pair blowup.
    Op("join_asof_nearest", (s, dir) => {
      val ev = events(s, dir)
      val c = ev.filter(col("event_type") === "click").select(
        col("user_id").as("k"), col("ts").as("ats"),
        col("event_id").as("c_key"), lit(null).cast("long").as("p_key"),
        lit(0).as("typ"))
      val p = ev.filter(col("event_type") === "purchase").select(
        col("user_id").as("k"), col("ts").as("ats"),
        lit(null).cast("long").as("c_key"), col("event_id").as("p_key"),
        lit(1).as("typ"))
      val ord = Seq(col("ats"), col("typ"), col("c_key"))
      val back = Window.partitionBy("k").orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cts = when(col("typ") === 0, col("ats"))
      c.unionByName(p)
        .withColumn("b_key", last(col("c_key"), ignoreNulls = true).over(back))
        .withColumn("b_ts", last(cts, ignoreNulls = true).over(back))
        .withColumn("f_key", nextNonNull(col("c_key"), col("k"), ord))
        .withColumn("f_ts", nextNonNull(cts, col("k"), ord))
        .filter(col("typ") === 1 &&
          (col("b_key").isNotNull || col("f_key").isNotNull))
        .withColumn("b_gap", unix_micros(col("ats")) - unix_micros(col("b_ts")))
        .withColumn("f_gap", unix_micros(col("f_ts")) - unix_micros(col("ats")))
        .select(col("p_key").as("event_id"),
          when(col("b_key").isNull, col("f_key"))
            .when(col("f_key").isNull, col("b_key"))
            .when(col("b_gap") <= col("f_gap"), col("b_key"))
            .otherwise(col("f_key")).as("nearest_click"),
          when(col("b_key").isNull, col("f_gap"))
            .when(col("f_key").isNull, col("b_gap"))
            .otherwise(least(col("b_gap"), col("f_gap"))).as("gap_us"))
        .orderBy("event_id")
    },
      // Backward candidates are c.ts <= p.ts (same-instant counts backward,
      // matching the window sort); forward strictly after. Tie order:
      // smaller gap first, then backward before forward, then max click id
      // backward / min click id forward — the same picks the two window
      // frames make.
      Some("""SELECT event_id, nearest_click, gap_us FROM (
             |  SELECT p.event_id, c.event_id AS nearest_click,
             |    CASE WHEN c.ts2 <= p.ts2 THEN epoch_us(p.ts2) - epoch_us(c.ts2)
             |      ELSE epoch_us(c.ts2) - epoch_us(p.ts2) END AS gap_us,
             |    row_number() OVER (PARTITION BY p.event_id ORDER BY
             |      CASE WHEN c.ts2 <= p.ts2 THEN epoch_us(p.ts2) - epoch_us(c.ts2)
             |        ELSE epoch_us(c.ts2) - epoch_us(p.ts2) END,
             |      CASE WHEN c.ts2 <= p.ts2 THEN 0 ELSE 1 END,
             |      CASE WHEN c.ts2 <= p.ts2 THEN -c.event_id ELSE c.event_id END
             |    ) AS rn
             |  FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts2
             |     FROM events WHERE event_type = 'purchase') p
             |  JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts2
             |     FROM events WHERE event_type = 'click') c
             |    ON p.user_id = c.user_id)
             |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // NULL-AWARE anti join — the `NOT IN (subquery)` three-valued-logic
    // shape, a genuinely different operator from NOT EXISTS (`join_anti`):
    // if the subquery produces ANY null the whole predicate is UNKNOWN and
    // the result is empty, and a null probe key never qualifies. Spark
    // plans this as a null-aware anti join (build side broadcast with an
    // any-null fast path) rather than a naive per-row subquery — at 100 TB
    // the probe side streams map-side with ZERO shuffle as long as the
    // exclusion list fits a broadcast, which an exclusion list (the
    // blocklist/tombstone shape this operator exists for) virtually
    // always does. The subquery keys are non-null here, so the result is
    // the set difference — but through the null-aware plan.
    Op("join_anti_null_aware", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_naa_customer")
      t(s, dir, "orders").createOrReplaceTempView("graft_naa_orders")
      s.sql("""SELECT c_custkey, c_name FROM graft_naa_customer
              |WHERE c_custkey NOT IN
              |  (SELECT o_custkey FROM graft_naa_orders WHERE o_totalprice > 400000)
              |ORDER BY c_custkey""".stripMargin)
    },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // LATERAL correlated subquery — top-2 customers by account balance per
    // nation, declared as a per-row dependent subquery with ORDER BY +
    // LIMIT. Catalyst DECORRELATES it (DecorrelateInnerQuery rewrites the
    // limit as a rank-over-partition on one side of an equi-join), so the
    // executed plan is the same window + join every top-k-per-group query
    // gets — never a per-outer-row re-execution. The point of the key is
    // exactly that rewrite: at 100 TB a nested-loop lateral is unrunnable,
    // the decorrelated form is one shuffle. Double-typed balances are
    // totally ordered by the (c_acctbal DESC, c_custkey) tiebreak, so the
    // LIMIT cut is engine-portable.
    Op("join_lateral", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("graft_lat_nation")
      t(s, dir, "customer").createOrReplaceTempView("graft_lat_customer")
      s.sql("""SELECT n_name, c_custkey, c_acctbal
              |FROM graft_lat_nation,
              |LATERAL (SELECT c_custkey, c_acctbal FROM graft_lat_customer
              |         WHERE c_nationkey = n_nationkey
              |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
              |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
    },
      Some("""SELECT n_name, c_custkey, c_acctbal
             |FROM nation,
             |LATERAL (SELECT c_custkey, c_acctbal FROM customer
             |         WHERE c_nationkey = n_nationkey
             |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
             |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)),

    // FORWARD as-of: the FIRST event at-or-after each order (the
    // "what did this order lead to" direction — join_asof reversed).
    // Same union-and-scan shape, mirrored: orders sort BEFORE events at
    // an equal timestamp (typ 0 < 1) so an exactly-simultaneous event is
    // visible to the order, and `nextNonNull` takes the first event at or
    // after the row (rows tie on the sort only between orders, whose
    // e_key is null, so its mirrored running frame equals the following
    // frame without that frame's O(n²) re-evaluation). One exchange on the
    // customer key, no pair blowup, ties broken by event_id ascending —
    // all deterministic.
    Op("join_asof_forward", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey").as("k"), col("o_orderdate").as("ats"),
        col("o_orderkey"), lit(null).cast("long").as("e_key"),
        lit(0).as("typ"))
      val e = events(s, dir).select(
        col("user_id").as("k"), col("ts").as("ats"),
        lit(null).cast("long").as("o_orderkey"), col("event_id").as("e_key"),
        lit(1).as("typ"))
      o.unionByName(e)
        .withColumn("next_event_id", nextNonNull(col("e_key"), col("k"),
          Seq(col("ats"), col("typ"), col("e_key"))))
        .filter(col("typ") === 0 && col("next_event_id").isNotNull)
        .select("o_orderkey", "next_event_id")
        .orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, event_id AS next_event_id FROM (
             |  SELECT o.o_orderkey, e.event_id,
             |    row_number() OVER (PARTITION BY o.o_orderkey
             |      ORDER BY e.ts2 ASC, e.event_id ASC) AS rn
             |  FROM orders o JOIN (SELECT user_id, event_id,
             |      CAST(ts AS TIMESTAMP) AS ts2 FROM events) e
             |    ON o.o_custkey = e.user_id
             |    AND e.ts2 >= CAST(o.o_orderdate AS TIMESTAMP))
             |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),
  )
}
