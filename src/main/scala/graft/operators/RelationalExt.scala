package graft.operators

import graft.Tables._
import graft.Tables.{dsum, dsumSql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 relational surface extensions: map/struct/conditional scalar
  * functions, collect/bool aggregates, pivot/unpivot reshaping,
  * percent_rank/cume_dist analytics, and two composite TPC-H-shape
  * pipelines (the "does the whole engine hang together" queries).
  *
  * Scale notes: pivot compiles to one two-phase hash aggregation (the
  * value list is explicit, so no extra distinct-values job); unpivot is a
  * narrow Expand (no shuffle); the composite queries broadcast their
  * dimension sides and keep the fact-side join key partitioning.
  */
object RelationalExt {

  /** Token budget per packed training sequence
    * (`pipeline_pack_sequences`) — mirrored in the DuckDB oracle. */
  val PackTokenBudget: Int = 256

  /** Chunk size / overlap (tokens) for `pipeline_chunk_docs` — mirrored
    * in the DuckDB oracle. */
  val ChunkTokens: Int = 64
  val ChunkOverlap: Int = 16

  /** The Efraimidis–Spirakis sampling key ln(u)/w with u drawn from a
    * salted md5 of the id: u = (hex₁₋₈ + 0.5)/2³² ∈ (0,1) strictly. The
    * top-k rows per stratum under this key (descending) are a weighted
    * sample without replacement. One expression shared by the batch
    * `sample_weighted` query and the streaming reservoir
    * ([[graft.streaming.StreamingWeightedSample]]) so both rank by
    * bit-identical doubles. */
  def esKey(idCol: org.apache.spark.sql.Column,
      wCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = md5(concat(lit("wsamp42:"), idCol))
    val u = (hexInt(h, 1, 8).cast("long") + lit(0.5)) /
      lit(4294967296.0)
    log(u) / wCol
  }

  /** Latest event per user on the (ts, event_id) total order, via one
    * max_by aggregation: the body of `dedup_latest_by_key` and of its
    * streaming twin [[graft.streaming.StreamingSessions.latestByKey]]. */
  def latestByKey(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.groupBy("user_id")
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("last.ts").as("ts"),
        col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"), col("last.value").as("value"))

  /** The hash train/test split: "train" iff the first two hex digits of
    * md5("split42:" || id) sort below "cc" (≈ 79.7% train) — stable
    * across runs, partitions and engines. Oracle twin: [[splitFoldSql]]. */
  def splitFold(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(substring(md5(concat(lit("split42:"), id)), 1, 2) < "cc", "train")
      .otherwise("test")
  def splitFoldSql(id: String): String =
    s"CASE WHEN substring(md5('split42:' || CAST($id AS VARCHAR)), 1, 2) < 'cc'" +
      "\n   THEN 'train' ELSE 'test' END"

  val ops: Seq[Op] = Seq(
    // MapType surface: construction, lookup (hit + miss), key listing.
    // Output is all scalars — the oracle harness hashes pandas values.
    Op("fn_map", (s, dir) => {
      val m = map(lit("price"), col("o_totalprice"),
        lit("key"), col("o_orderkey").cast("double"))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        element_at(m, "price").as("m_price"),
        element_at(m, "nope").as("m_miss"),
        size(map_keys(m)).as("n_keys"),
        array_join(map_keys(m), ",").as("keys_csv"),
      ).orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_totalprice AS m_price,
             | CAST(NULL AS DOUBLE) AS m_miss, CAST(2 AS INT) AS n_keys,
             | 'price,key' AS keys_csv
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Map higher-order functions — transform_values, map_filter,
    // map_zip_with, and an aggregate over map_values — completing the
    // lambda surface fn_array_higher_order covers for arrays. All
    // float results are exact IEEE identities ((p/2)·2 = p, p+p = 2p,
    // (0+p)+p/2 = p+p/2), so the oracle states the closed forms.
    Op("fn_map_higher_order", (s, dir) => {
      val m = map(lit("price"), col("o_totalprice"),
        lit("half"), col("o_totalprice") / 2)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        element_at(transform_values(m, (_, v) => v * 2), "half").as("tv_half"),
        size(map_filter(m, (k, _) => k === "price")).as("n_price"),
        element_at(map_zip_with(m, m, (_, v1, v2) => v1 + v2), "price")
          .as("zip_price"),
        aggregate(map_values(m), lit(0.0), (acc, v) => acc + v).as("sum_vals"),
      ).orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_totalprice AS tv_half, CAST(1 AS INT) AS n_price,
             | o_totalprice + o_totalprice AS zip_price,
             | o_totalprice + o_totalprice / 2 AS sum_vals
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Nested struct construction and field access (two levels deep).
    Op("fn_struct", (s, dir) => {
      val st = struct(col("c_name").as("name"), col("c_acctbal").as("bal"))
      val nested = struct(st.as("inner"), (col("c_custkey") % 5).as("tag"))
      t(s, dir, "customer").select(
        col("c_custkey"),
        st.getField("name").as("s_name"),
        (st.getField("bal") * 2).as("bal2"),
        nested.getField("inner").getField("bal").as("nbal"),
        nested.getField("tag").as("tag"),
      ).orderBy("c_custkey")
    },
      Some("""SELECT c_custkey, c_name AS s_name, c_acctbal * 2 AS bal2,
             | c_acctbal AS nbal, c_custkey % 5 AS tag
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // CASE WHEN chains, nullif/coalesce, greatest/least.
    Op("fn_conditional", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_or"),
        greatest(col("o_custkey") % 7, lit(3L)).as("g7"),
        least(col("o_totalprice"), lit(150000.0)).as("capped"),
      ).orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             | CASE WHEN o_totalprice > 200000 THEN 'high'
             |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
             | coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or,
             | greatest(o_custkey % 7, 3) AS g7,
             | least(o_totalprice, 150000.0) AS capped
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // collect_list / collect_set — made deterministic (hence oracle-able)
    // by sorting inside the row and joining to a scalar string.
    Op("agg_collect_sort", (s, dir) =>
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(
          array_join(sort_array(collect_list(col("o_orderstatus"))), "").as("statuses"),
          array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("prios"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             | array_to_string(list_sort(list(o_orderstatus)), '') AS statuses,
             | array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS prios,
             | count(*) AS n
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // count_if / bool_and / bool_or (FILTER-clause analytics).
    Op("agg_bool_countif", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          count_if(col("l_quantity") > 25).as("n_big"),
          bool_and(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_discount") > 0.09).as("any_deep_disc"),
          max(col("l_linenumber")).as("max_ln"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | count(*) FILTER (WHERE l_quantity > 25) AS n_big,
             | bool_and(l_quantity > 0) AS all_pos,
             | bool_or(l_discount > 0.09) AS any_deep_disc,
             | max(l_linenumber) AS max_ln
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Pivot: explicit value list → single two-phase hash agg, no
    // distinct-values pre-job, no extra shuffle vs a plain groupBy.
    Op("pivot_status", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy("yr"),
      Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
              | CAST(sum(CASE WHEN o_orderstatus = 'O'
              |   THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "O",
              | CAST(sum(CASE WHEN o_orderstatus = 'F'
              |   THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "F",
              | CAST(sum(CASE WHEN o_orderstatus = 'P'
              |   THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "P"
              |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin)),

    // Unpivot/melt: a narrow Expand projection — row count ×2, zero
    // shuffle until the final presentation sort.
    Op("unpivot_metrics", (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity").as("l_quantity"),
            col("l_discount").as("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             | l_quantity AS val FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount' AS metric,
             | l_discount AS val FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // percent_rank / cume_dist / ntile over a total order (price + key
    // tiebreak makes every rank — and the DuckDB twin — deterministic).
    // Round 11: computed from the BUCKETED global row_number
    // (ScalableWindows two-level cumsum) instead of a WindowExec
    // partitioned by the 3-value o_orderstatus enum: with a total
    // order, rank ≡ row_number, so percent_rank = (rn−1)/(n−1),
    // cume_dist = rn/n, and ntile reproduces Spark's exact
    // first-buckets-padded rule in integer arithmetic — identical
    // values, parallelism ∝ buckets instead of |statuses|.
    Op("win_percent_cume", (s, dir) => {
      val rn = ScalableWindows.bucketedRowNumber(
        t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        Seq("o_orderstatus"), "o_totalprice",
        Seq(col("o_totalprice"), col("o_orderkey")), buckets = 64)
      val n = rn.groupBy("o_orderstatus").agg(count(lit(1)).as("nn"))
      rn.join(broadcast(n), "o_orderstatus")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          round(when(col("nn") === 1, lit(0.0))
            .otherwise((col("rn") - 1).cast("double")
              / (col("nn") - 1).cast("double")), 9).as("pr"),
          round(col("rn").cast("double") / col("nn").cast("double"), 9)
            .as("cd"),
          // Spark's NTile: nn%5 leading buckets of size nn div 5 + 1
          expr("CAST(CASE WHEN rn <= (nn % 5) * ((nn div 5) + 1) " +
            "THEN (rn - 1) div ((nn div 5) + 1) " +
            "ELSE (nn % 5) + ((rn - 1) - (nn % 5) * ((nn div 5) + 1)) " +
            "div (nn div 5) END + 1 AS INT)").as("nt"),
        ).orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_orderstatus,
             | round(percent_rank() OVER w, 9) AS pr,
             | round(cume_dist() OVER w, 9) AS cd,
             | CAST(ntile(5) OVER w AS INT) AS nt
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // try_* arithmetic: the ANSI-mode-safe path (Spark 4 ANSI is on by
    // default — plain division by zero throws; try_divide yields NULL).
    Op("fn_try_arith", (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        try_divide(col("l_extendedprice"), col("l_discount")).as("price_per_disc"),
        try_add(col("l_orderkey") + lit(1L), lit(Long.MaxValue)).as("overflow_null"),
      ).orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             | CASE WHEN l_discount = 0 THEN NULL
             |      ELSE l_extendedprice / l_discount END AS price_per_disc,
             | CAST(NULL AS BIGINT) AS overflow_null
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Array set algebra — sizes only (element order of intersect/union
    // differs across engines; cardinalities are engine-portable).
    Op("fn_array_setops", (s, dir) => {
      val tw = array_distinct(split(col("p_type"), " "))
      val nw = array_distinct(split(col("p_name"), " "))
      t(s, dir, "part").select(
        col("p_partkey"),
        size(array_intersect(tw, nw)).as("n_common"),
        size(array_union(tw, nw)).as("n_union"),
        size(array_except(tw, nw)).as("n_only_type"),
      ).orderBy("p_partkey")
    },
      Some("""WITH w AS (SELECT p_partkey,
             |   list_distinct(string_split(p_type, ' ')) AS tw,
             |   list_distinct(string_split(p_name, ' ')) AS nw
             |  FROM part)
             |SELECT p_partkey,
             | CAST(len(list_intersect(tw, nw)) AS INT) AS n_common,
             | CAST(len(list_distinct(list_concat(tw, nw))) AS INT) AS n_union,
             | CAST(len(list_filter(tw, x -> NOT list_contains(nw, x))) AS INT) AS n_only_type
             |FROM w ORDER BY p_partkey""".stripMargin)),

    // Time-series gap fill (training-pipeline resampling): hourly buckets
    // per user, missing hours zero-filled. The dense grid is generated
    // map-side from each user's (min, max) span — one agg for buckets,
    // one for spans, one equi-join; no per-row sequence state anywhere.
    Op("ts_gap_fill", (s, dir) => {
      val b = events(s, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
      val span = b.groupBy("user_id")
        .agg(min("bucket").as("b0"), max("bucket").as("b1"))
        .select(col("user_id"),
          explode(sequence(col("b0"), col("b1"), expr("interval 1 hour"))).as("bucket"))
      span.join(b, Seq("user_id", "bucket"), "left")
        .select(col("user_id"), col("bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("user_id", "bucket")
    },
      Some("""WITH b AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             |   count(*) AS n_events,
             |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |  FROM events GROUP BY 1, 2),
             | span AS (SELECT user_id,
             |   unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
             |  FROM b GROUP BY user_id)
             |SELECT span.user_id, span.bucket,
             | coalesce(b.n_events, 0) AS n_events,
             | coalesce(b.sum_value, 0.0) AS sum_value
             |FROM span LEFT JOIN b ON span.user_id = b.user_id AND span.bucket = b.bucket
             |ORDER BY span.user_id, span.bucket""".stripMargin)),

    // Latest record per key (CDC upsert / KTable-compaction analog):
    // one max_by aggregation — map-side partials, no window sort. The
    // (ts, event_id) struct tiebreak makes the winner deterministic.
    Op("dedup_latest_by_key", (s, dir) =>
      latestByKey(events(s, dir)).orderBy("user_id"),
      Some("""SELECT user_id, ts, event_id, event_type, value FROM (
             | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value,
             |   row_number() OVER (PARTITION BY user_id
             |     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rk
             | FROM events) WHERE rk = 1 ORDER BY user_id""".stripMargin)),

    // explode_outer: rows with empty arrays survive with NULL (the outer
    // UDTF shape — plain explode silently drops them).
    Op("fn_explode_outer", (s, dir) => {
      val zs = filter(split(col("text"), " "), w => w.startsWith("z"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode_outer(zs).as("ztok"))
        .orderBy("doc_id", "ztok")
    },
      Some("""WITH z AS (SELECT doc_id,
             |   list_filter(string_split(text, ' '), w -> starts_with(w, 'z')) AS l
             |  FROM documents)
             |SELECT doc_id,
             | unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS ztok
             |FROM z ORDER BY doc_id, ztok""".stripMargin)),

    // Deterministic hash-based train/test split (the training-pipeline
    // staple): fold assignment from md5(salt || key) — stable across
    // runs, partitions, AND engines (md5 is bit-identical everywhere,
    // unlike xxhash64/rand). 'cc'/'ff' hex prefix ≈ 79.7% train.
    Op("train_test_split", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), splitFold(col("doc_id")).as("fold"))
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id,
             | ${splitFoldSql("doc_id")} AS fold
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TEMPORAL split — the leakage-safe fold for time-dependent data
    // (forecasting/session models must never train on the future of a
    // user they are tested on): per user, the chronologically FIRST 80%
    // of events train, the last 20% test. The rank rides the user-keyed
    // window (one exchange, each user's history sorts in its own task);
    // the cut uses integer rank vs count (rk×5 ≤ n×4 is FLOOR(0.8n) —
    // a 1-event user gets an empty train fold, all test; the oracle
    // applies the identical predicate), not percent_rank floats, so the
    // boundary is engine-exact. Summary
    // output (per user: fold sizes + the train/test time boundary)
    // keeps the contract checkable without materializing the event copy.
    Op("train_test_split_temporal", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("fold",
          when(col("rk") * 5 <= col("n") * 4, "train").otherwise("test"))
        .groupBy("user_id", "fold")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("from_ts"), max(col("ts")).as("to_ts"))
        .orderBy("user_id", "fold")
    },
      Some("""WITH r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk,
             |    count(*) OVER (PARTITION BY user_id) AS n
             |  FROM events)
             |SELECT user_id,
             | CASE WHEN rk * 5 <= n * 4 THEN 'train' ELSE 'test' END AS fold,
             | count(*) AS n_events, min(ts) AS from_ts, max(ts) AS to_ts
             |FROM r GROUP BY 1, 2 ORDER BY user_id, fold""".stripMargin)),

    // Leakage-safe split: the fold is keyed by the near-dup CLUSTER id
    // (simhash hamming≤3 connected components), so near-duplicate
    // documents can never straddle train/test — the contamination vector
    // a doc-keyed split leaves open (text_contamination then measures
    // residual shingle overlap, not self-inflicted duplicate leakage).
    // Same salt as train_test_split, so singletons (docs with no
    // near-dup, cluster_id = own id) land in the same fold either way.
    // Scale: one broadcast-joinable labels frame (clusters are a small
    // fraction of the corpus); the md5 fold stays a pure projection.
    Op("train_test_split_grouped", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = DedupOps.corpusLabelsFull(s, dir)
      val gid = coalesce(col("cluster_id"), col("doc_id"))
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), gid.as("group_id"), splitFold(gid).as("fold"))
        .orderBy("doc_id")
    },
      Some(("WITH " + DedupOps.clusterLabelsSql("documents") + s"""
        |SELECT d.doc_id,
        | COALESCE(l.cluster_id, d.doc_id) AS group_id,
        | ${splitFoldSql("COALESCE(l.cluster_id, d.doc_id)")} AS fold
        |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""").stripMargin)),

    // TABLE CONTENT CHECKSUM (round 10) — pipeline_dataset_diff's cheap
    // cousin: one order-independent number per (table, lang) that two
    // corpus replicas can compare WITHOUT shipping either (the
    // Iceberg-manifest / distcp-checksum role). Per-row digest over all
    // columns (concat_ws '|' — both engines render BIGINT identically),
    // 8 hex digits decoded to a 32-bit term, summed exactly: order-free
    // by commutativity, so partitioning/replica layout can't change it;
    // a single flipped byte changes the sum with probability 1−2⁻³².
    // Shape: pure scan-stage projection + one hash agg; |langs| rows.
    Op("pipeline_table_checksum", (s, dir) => {
      val h = md5(concat_ws("|", col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
      t(s, dir, "documents")
        .select(col("lang"),
          hexInt(h, 1, 8).cast("long").as("v"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("v").as("checksum"))
        .orderBy("lang")
    },
      Some(s"""WITH r AS (SELECT lang,
             |   md5(concat_ws('|', doc_id, text, lang, source, n_chars)) AS h
             |  FROM documents),
             | v AS (SELECT lang, ${hexIntSql("h", 1, 8)} AS v
             |  FROM r)
             |SELECT lang, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS checksum
             |FROM v GROUP BY lang ORDER BY lang""".stripMargin)),

    // CLUSTER-KEYED K-FOLD ASSIGNMENT (round 10) — cross-validation's
    // train_test_split_grouped: fold_id = hash(cluster) mod 5, keyed on
    // the near-dup component label so every duplicate cluster lands
    // wholly in ONE fold (a near-dup of a training doc in the eval fold
    // is leakage, the same failure the grouped split guards). The
    // 2-hex-digit decode gives 256 % 5 = 1 residual bias (~0.08% — fold
    // 0 is eligible for one extra hash class), documented rather than
    // rejected-and-resampled to keep the rule one pure expression.
    // Leakage-safety pinned in DeterminismSpec beside the grouped split.
    Op("pipeline_kfold_assign", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = DedupOps.corpusLabelsFull(s, dir)
      val gid = coalesce(col("cluster_id"), col("doc_id"))
      val h = md5(concat(lit("kfold42:"), gid))
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), gid.as("group_id"),
          (hexInt(h, 1, 2).cast("int") % 5).as("fold_id"))
        .orderBy("doc_id")
    },
      Some(("WITH " + DedupOps.clusterLabelsSql("documents") + s"""
        |SELECT d.doc_id,
        | COALESCE(l.cluster_id, d.doc_id) AS group_id,
        | CAST(${hexIntSql("md5('kfold42:' || CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR))", 1, 2)}
        |   % 5 AS INT) AS fold_id
        |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""").stripMargin)),

    // GROUP-RELATIVE ADVANTAGE (round 11) — the GRPO-style reward
    // normalization beside pipeline_preference_pairs' DPO pairs: per
    // prompt group (user, day), advantage_i = (r_i − mean_g)/sd_g —
    // group-relative standardization needs no value model, which is
    // exactly why group-sampled RL preprocessing wants it as a data
    // op. Degenerate groups (n = 1, zero variance) emit advantage 0,
    // the skip convention. Shape: ONE window over the high-cardinality
    // prompt key (a single shuffle at 100 TB); group moments are exact
    // micro-lattice sums (Σr² rides DECIMAL(38,0) — a single event's
    // square can pass 2^53 — and releases via the hi/lo split), the
    // per-event release is one IEEE tree.
    Op("pipeline_group_advantage", (s, dir) => {
      val micro = (col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        date_trunc("day", col("ts")).as("day"), micro.as("vi"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "day")
      val st = ev
        .withColumn("ng", count(lit(1)).over(w))
        .withColumn("svi", sum(col("vi")).over(w))
        .withColumn("svv",
          sum(col("vi").cast("decimal(38,0)") * col("vi")).over(w))
      val nD = col("ng").cast("double")
      val sviD = col("svi").cast("double")
      val svvD = StatsExt.exactDbl("svv")
      val varS = (svvD - sviD * sviD / nD) / (nD - lit(1.0))
      val adv = when(col("ng") === 1 || varS <= 0.0, lit(0.0))
        .otherwise((col("vi").cast("double") - sviD / nD) / sqrt(varS))
      st.select(col("event_id"), col("user_id"), col("day"),
          round(col("vi").cast("double") / lit(1000000.0), 6)
            .as("reward"),
          col("ng").as("n_group"),
          round(adv, 6).as("advantage"))
        .orderBy("event_id")
    },
      Some(s"""WITH ev AS (SELECT event_id, user_id,
              |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
              |   CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
              |     AS vi
              |  FROM events),
              | st AS (SELECT event_id, user_id, day, vi,
              |   CAST(count(*) OVER win AS BIGINT) AS ng,
              |   CAST(sum(vi) OVER win AS BIGINT) AS svi,
              |   sum(CAST(vi AS HUGEINT) * vi) OVER win AS svv
              |  FROM ev WINDOW win AS (PARTITION BY user_id, day)),
              | r AS (SELECT event_id, user_id, day, vi, ng,
              |   CAST(ng AS DOUBLE) AS nd, CAST(svi AS DOUBLE) AS svid,
              |   ${StatsExt.exactDblSql("svv")} AS svvd
              |  FROM st)
              |SELECT event_id, user_id, day,
              | round(CAST(vi AS DOUBLE) / 1000000.0, 6) AS reward,
              | ng AS n_group,
              | round(CASE WHEN ng = 1 OR
              |    (svvd - svid * svid / nd) / (nd - 1.0) <= 0.0 THEN 0.0
              |   ELSE (CAST(vi AS DOUBLE) - svid / nd)
              |    / sqrt((svvd - svid * svid / nd) / (nd - 1.0)) END, 6)
              |   AS advantage
              |FROM r ORDER BY event_id""".stripMargin)),

    // PREFERENCE-PAIR CONSTRUCTION (round 11) — the DPO/RLHF data-prep
    // step: within each prompt group (here: a user's day of activity),
    // emit one (chosen, rejected) pair — the highest- and lowest-reward
    // responses — with a deterministic tiebreak, skipping groups where
    // the extremes tie (equal rewards carry no preference signal).
    // Rewards ride the micro lattice, so the margin is an exact long
    // and the argmax/argmin are `max/min(struct(vi, event_id))` — ONE
    // map-side-combinable hash agg over the corpus, no windows, no
    // second pass; at 100 TB this is a single shuffle on the (user,
    // day) prompt key. The oracle states the same extremes as rank-1
    // rows of two windows (fine at oracle sf).
    Op("pipeline_preference_pairs", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        date_trunc("day", col("ts")).as("day"), col("event_id"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long")
          .as("vi"))
      ev.groupBy("user_id", "day").agg(
          count(lit(1)).as("n_candidates"),
          max(struct(col("vi"), col("event_id"))).as("mx"),
          min(struct(col("vi"), col("event_id"))).as("mn"))
        .filter(col("n_candidates") >= 2 && col("mx.vi") > col("mn.vi"))
        .select(col("user_id"), col("day"),
          col("mx.event_id").as("chosen_id"),
          col("mn.event_id").as("rejected_id"),
          (col("mx.vi") - col("mn.vi")).as("margin_micro"),
          col("n_candidates"))
        .orderBy("user_id", "day")
    },
      Some("""WITH ev AS (SELECT user_id,
             |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_id,
             |   CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
             |  FROM events),
             | r AS (SELECT *,
             |   row_number() OVER (PARTITION BY user_id, day
             |     ORDER BY vi DESC, event_id DESC) AS rmax,
             |   row_number() OVER (PARTITION BY user_id, day
             |     ORDER BY vi ASC, event_id ASC) AS rmin,
             |   count(*) OVER (PARTITION BY user_id, day) AS n_candidates
             |  FROM ev),
             | ch AS (SELECT user_id, day, event_id AS chosen_id, vi AS vmax,
             |   CAST(n_candidates AS BIGINT) AS n_candidates
             |  FROM r WHERE rmax = 1),
             | rj AS (SELECT user_id, day, event_id AS rejected_id,
             |   vi AS vmin FROM r WHERE rmin = 1)
             |SELECT ch.user_id, ch.day, chosen_id, rejected_id,
             | vmax - vmin AS margin_micro, n_candidates
             |FROM ch JOIN rj USING (user_id, day)
             |WHERE n_candidates >= 2 AND vmax > vmin
             |ORDER BY ch.user_id, ch.day""".stripMargin)),

    // EXACT-QUOTA STRATIFIED SAMPLE (round 10) — "exactly K docs per
    // language", the eval-set curation ask rate-based samplers only hit
    // in expectation (±√n — material when K is small). Deterministic
    // rank by md5(salt‖doc_id) within each stratum, keep rank ≤ K.
    // Scale shape: the naive per-stratum window is ONE task per stratum
    // (few-strata skew); this runs sample_weighted's two-phase form —
    // per-(lang, md5-bucket) top-K first (32 parallel tasks per
    // stratum), then top-K of the ≤32K survivors — same winners, since
    // the global top-K is contained in the union of bucket top-Ks. The
    // oracle states the single-window semantics directly.
    Op("pipeline_quota_sample", (s, dir) => {
      val k = 50
      val h = md5(concat(lit("quota42:"), col("doc_id")))
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), h.as("sk"),
          (hexInt(h, 9, 2).cast("int") % 32).as("bkt"))
      val w1 = Window.partitionBy("lang", "bkt").orderBy(col("sk"), col("doc_id"))
      val w2 = Window.partitionBy("lang").orderBy(col("sk"), col("doc_id"))
      base.withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
        .withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("doc_id")
    },
      Some("""WITH r AS (SELECT doc_id, lang,
             |   row_number() OVER (PARTITION BY lang
             |     ORDER BY md5('quota42:' || CAST(doc_id AS VARCHAR)), doc_id)
             |     AS rk
             |  FROM documents)
             |SELECT doc_id, lang, CAST(rk AS INT) AS rk
             |FROM r WHERE rk <= 50 ORDER BY doc_id""".stripMargin)),

    // NEYMAN-ALLOCATION STRATIFIED SAMPLE (Neyman 1934) — the
    // variance-optimal refinement of the exact-quota sample: a fixed
    // total budget n is split across strata ∝ N_h·S_h (big AND noisy
    // strata get more seats), the allocation survey statisticians
    // actually use when strata differ in spread. Determinism end to
    // end: S_h from exact integer moment sums (n_chars is a long);
    // N_h·S_h snapped to the 1e-6 lattice (the ln-snap rule — sqrt is
    // correctly rounded but the cross-strata TOTAL must not depend on
    // engine addition order, so the addends are lattice decimals);
    // seats = ⌊share⌋ + largest-remainder top-up (Hamilton rounding —
    // exact integer arithmetic over identical doubles); membership =
    // salted-md5 rank ≤ seats (the quota key's two-phase window, so a
    // stratum never serializes into one task). The |langs|-row
    // allocation frame is the only unpartitioned window input.
    Op("sample_stratified_neyman", (s, dir) => {
      val budget = 200
      val docs = t(s, dir, "documents")
      val st = docs.groupBy("lang").agg(
        count(lit(1)).as("n_h"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars")).as("sxx"))
      val nD = col("n_h").cast("double")
      val sdev = sqrt((col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double") / nD)
        / (nD - lit(1.0)))
      val w0 = st.select(col("lang"), col("n_h"),
        round(nD * sdev, 6).as("ns6"))
      val tot = w0.agg(
        sum(col("ns6").cast("decimal(28,6)")).cast("double").as("t_ns"))
      val share = col("ns6") * lit(budget.toDouble) / col("t_ns")
      val q = w0.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_h"), floor(share).as("q"),
          (share - floor(share)).as("frac"))
      val totQ = q.agg(sum("q").as("q_sum"))
      val wR = Window.orderBy(col("frac").desc, col("lang"))
      val alloc = q.crossJoin(broadcast(totQ))
        .withColumn("rk_frac", row_number().over(wR))
        .select(col("lang"),
          (col("q") + when(col("rk_frac") <= lit(budget.toLong) - col("q_sum"),
            1L).otherwise(0L)).as("n_alloc"))
      val h = md5(concat(lit("ney42:"), col("doc_id")))
      val base = docs
        .select(col("doc_id"), col("lang"), h.as("sk"),
          (hexInt(h, 9, 2).cast("int") % 32).as("bkt"))
        .join(broadcast(alloc), "lang")
      val w1 = Window.partitionBy("lang", "bkt").orderBy(col("sk"), col("doc_id"))
      val w2 = Window.partitionBy("lang").orderBy(col("sk"), col("doc_id"))
      base.withColumn("r1", row_number().over(w1))
        .filter(col("r1") <= col("n_alloc"))
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= col("n_alloc"))
        .select(col("doc_id"), col("lang"), col("rk"), col("n_alloc"))
        .orderBy("doc_id")
    },
      Some("""WITH st AS (SELECT lang, count(*) AS n_h,
             |   sum(CAST(n_chars AS HUGEINT)) AS sx,
             |   sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
             |  FROM documents GROUP BY 1),
             | w0 AS (SELECT lang, n_h,
             |   round(CAST(n_h AS DOUBLE) * sqrt((CAST(sxx AS DOUBLE)
             |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_h AS DOUBLE))
             |     / (CAST(n_h AS DOUBLE) - 1.0)), 6) AS ns6
             |  FROM st),
             | tot AS (SELECT CAST(sum(CAST(ns6 AS DECIMAL(28,6))) AS DOUBLE)
             |     AS t_ns FROM w0),
             | q AS (SELECT lang, n_h,
             |   CAST(floor(ns6 * 200.0 / t_ns) AS BIGINT) AS q,
             |   ns6 * 200.0 / t_ns - floor(ns6 * 200.0 / t_ns) AS frac
             |  FROM w0 CROSS JOIN tot),
             | tq AS (SELECT CAST(sum(q) AS BIGINT) AS q_sum FROM q),
             | alloc AS (SELECT lang,
             |   q + CASE WHEN row_number() OVER (ORDER BY frac DESC, lang)
             |     <= 200 - q_sum THEN 1 ELSE 0 END AS n_alloc
             |  FROM q CROSS JOIN tq),
             | r AS (SELECT d.doc_id, d.lang, a.n_alloc,
             |   row_number() OVER (PARTITION BY d.lang
             |     ORDER BY md5('ney42:' || CAST(d.doc_id AS VARCHAR)), d.doc_id)
             |     AS rk
             |  FROM documents d JOIN alloc a USING (lang))
             |SELECT doc_id, lang, CAST(rk AS INT) AS rk,
             | CAST(n_alloc AS BIGINT) AS n_alloc
             |FROM r WHERE rk <= n_alloc ORDER BY doc_id""".stripMargin)),

    // Exact stratified split: rank within each language stratum by
    // md5(salt || key) and fold round-robin — every stratum splits 80/20
    // exactly (±1 doc), where the hash-threshold fold only hits the ratio
    // in expectation (±√n noise, material for small strata / eval sets).
    // Scale: one shuffle on the stratum key + per-stratum sort (spillable);
    // for corpus-sized strata the hash-threshold split stays the default —
    // this is the bounded eval-set curation tool.
    Op("train_test_split_stratified", (s, dir) => {
      val h = md5(concat(lit("strat42:"), col("doc_id")))
      val w = Window.partitionBy("lang").orderBy(h, col("doc_id"))
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        when((row_number().over(w) - lit(1)) % 5 < 4, "train")
          .otherwise("test").as("fold"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, lang,
             | CASE WHEN (row_number() OVER (PARTITION BY lang
             |     ORDER BY md5('strat42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5 < 4
             |   THEN 'train' ELSE 'test' END AS fold
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Deterministic domain-mix resampling: rebalance the corpus toward a
    // target per-source sampling rate (even-indexed sources kept at 75%,
    // odd at 25% — the per-domain up/down-weighting a pretraining mix
    // applies). The keep decision thresholds the first byte of a salted
    // md5 (rate quantized to /256, rendered as a 2-hex-char cutoff), so
    // membership is engine/partition/run-stable and monotone in the rate:
    // lowering a source's rate later keeps an exact subset of the docs
    // kept today — reproducible mixes across corpus versions. Scale: the
    // mix spec is a tiny per-source table (derived here; supplied by the
    // mix config in general) broadcast onto the corpus — the corpus side
    // is a zero-shuffle scan→filter projection; the only exchange is the
    // spec's own distinct-sources agg.
    // Curriculum staging: order the corpus easiest→hardest by quality
    // score and cut it into 4 equal stages (curriculum learning's data
    // schedule — train on clean high-quality text first, widen later).
    // ntile makes the cut integer-exact cross-engine (the quality-gate
    // pin); within a stage, presentation order is the deterministic
    // salted-md5 permutation (pipeline_epoch_shuffle's), surfaced here
    // as each stage's first document under that order so the schedule
    // itself is part of the verified contract. Scale note: the global
    // ntile is the oracle-checkable contract; the 100 TB plan is the
    // shipped pipeline_curriculum_stages_approx twin below
    // (approx_percentile quartile thresholds broadcast back — same
    // stages, bounded memory, approximate only at stage boundaries).
    Op("pipeline_curriculum_stages", (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"),
          size(split(col("text"), " ")).as("n_tok"))
      scored
        .withColumn("stage", ntile(4).over(
          Window.orderBy(col("quality").desc, col("doc_id"))))
        .withColumn("shuffle_key",
          md5(concat(lit("cur42:"), col("doc_id"))))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("mean_quality"),
          sum(col("n_tok")).as("total_tokens"),
          min_by(col("doc_id"), col("shuffle_key")).as("first_doc"))
        .orderBy("stage")
    },
      Some(s"""WITH q AS (SELECT doc_id, ${TextOps.qualitySql("text")} AS quality,
              |    len(string_split(text, ' ')) AS n_tok FROM documents),
              | r AS (SELECT doc_id, quality, n_tok,
              |    CAST(ntile(4) OVER (ORDER BY quality DESC, doc_id) AS INT) AS stage,
              |    md5('cur42:' || CAST(doc_id AS VARCHAR)) AS sk FROM q)
              |SELECT stage, count(*) AS n_docs,
              | round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
              |   AS mean_quality,
              | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              | min_by(doc_id, sk) AS first_doc
              |FROM r GROUP BY stage ORDER BY stage""".stripMargin)),

    // The 100 TB form of pipeline_curriculum_stages: identical staging
    // semantics (easiest→hardest quartiles, deterministic shuffle-key
    // presentation order), but the stage cut comes from ONE mergeable
    // approx_percentile sketch over quality (GK, rank error ≤
    // n/accuracy) broadcast back onto the corpus — a scan→project plan
    // with no global sort, where the exact key's ntile(4) moves EVERY
    // document through a single unpartitioned WindowExec. This is the
    // agg_histogram_equidepth_approx swap applied to the engine's last
    // global-sort corpus plan (round-9 verdict item 1). Stage = 1 +
    // #quartile-thresholds strictly above quality (quality DESC order,
    // matching the exact key's easiest-first numbering); boundary-tied
    // docs may land one stage off the exact cut — the pinned parity
    // property bounds that drift to the sketch's rank error. Sketch
    // values differ across engines → no SQL oracle; the exact key is
    // the semantic anchor, this key is the plan that survives 100×.
    Op("pipeline_curriculum_stages_approx", (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"),
          size(split(col("text"), " ")).as("n_tok"))
      val pcts = array(lit(0.25), lit(0.5), lit(0.75))
      val bounds = scored.agg(
        approx_percentile(col("quality"), pcts, lit(10000)).as("bs"))
      scored.crossJoin(broadcast(bounds))
        // stage 1 = top quartile by quality: count thresholds above
        // quality as 3 codegen'd compares summed (same idiom as the
        // equidepth twin's bucket expression)
        .withColumn("stage",
          lit(1) + (1 to 3).map(i =>
            (col("quality") < element_at(col("bs"), i)).cast("int"))
            .reduce(_ + _))
        .withColumn("shuffle_key",
          md5(concat(lit("cur42:"), col("doc_id"))))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("mean_quality"),
          sum(col("n_tok")).as("total_tokens"),
          min_by(col("doc_id"), col("shuffle_key")).as("first_doc"))
        .orderBy("stage")
    },
      None),

    // TRAINED quality-curation gate — the missing piece between the
    // text_quality_score heuristic and a learnable classifier: distill
    // the heuristic labeler (quality ≥ 0.6875, ≈ the corpus median →
    // balanced classes) into a logistic model over the SAME three
    // features the heuristic reads (TextOps.qualityFeats — exact-share,
    // no drift). The label is a linear threshold of a linear function of
    // the features, so the problem is separable by construction and the
    // trainer's convex-descent trace is the verifiable contract: loss
    // strictly decreases from ln 2 and final train accuracy recovers
    // most of the labeler (≥ 0.75 pinned; the margin near the median cut
    // bounds what 8 full-batch steps can reach). 8 passes over a cached
    // 4-column projection; see [[logisticTrain]] for the decimal-lattice
    // determinism contract. No SQL oracle (iterative trainer, like
    // sim_kmeans_train); ClassifierSpec pins monotone loss, planted-
    // separation recovery and bit-determinism across partitionings.
    Op("pipeline_quality_classifier", (s, dir) => {
      import s.implicits._
      val Seq(uniq, stop, lsat) = TextOps.qualityFeats(col("text"))
      val feats = t(s, dir, "documents").select(
        uniq.cast("double").as("x_uniq"),
        stop.cast("double").as("x_stop"),
        lsat.cast("double").as("x_len"),
        when(TextOps.qualityScore(col("text")) >= 0.6875, 1.0)
          .otherwise(0.0).as("y")).persist()
      try {
        logisticTrain(feats, Seq("x_uniq", "x_stop", "x_len"), "y",
          iters = 8, lr = 2.0)
          .map { case (i, loss, acc, w) => (i, loss, acc, w(0), w(1), w(2), w(3)) }
          .toDF("iter", "loss", "acc", "w_bias", "w_uniq", "w_stop", "w_len")
          .select(col("iter"), round(col("loss"), 6).as("loss"),
            round(col("acc"), 6).as("acc"), round(col("w_bias"), 6).as("w_bias"),
            round(col("w_uniq"), 6).as("w_uniq"), round(col("w_stop"), 6).as("w_stop"),
            round(col("w_len"), 6).as("w_len"))
          .orderBy("iter")
      } finally feats.unpersist()
    },
      None),

    Op("pipeline_domain_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val spec = docs.select("source").distinct()
        .withColumn("cutoff",
          when(substring(col("source"), 4, 10).cast("int") % 2 === 0, lit("c0"))
            .otherwise(lit("40")))
      docs.join(broadcast(spec), "source")
        .filter(substring(md5(concat(lit("mix42:"), col("doc_id"))), 1, 2)
          < col("cutoff"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, source, lang FROM documents
             |WHERE substring(md5('mix42:' || CAST(doc_id AS VARCHAR)), 1, 2) <
             |  CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
             |    THEN 'c0' ELSE '40' END
             |ORDER BY doc_id""".stripMargin)),

    // TEMPERATURE-flattened domain mix (the multilingual/multi-domain
    // resampling rule: sample domain d with probability ∝ n_d^α, α < 1,
    // so big domains are down-weighted toward balance). α = 1/2 exactly:
    // each source keeps rate ½·√(n_min/n_d) — the smallest source
    // samples at 50%, a 4×-larger one at 25% — so kept_d ∝ √n_d with a
    // global ½ subsample (the mix budget). α = 1/2 is chosen
    // deliberately for cross-engine bit-determinism: IEEE sqrt and
    // division are correctly rounded in both engines (pow(x, 0.7) is
    // not), so the /256-quantized md5 cutoff derives identically. The
    // mix spec is a per-source 1-row-each agg (broadcast); the corpus
    // side is a zero-shuffle scan→filter, same as pipeline_domain_mix,
    // and the gate is monotone in the rate (subset property across
    // corpus versions) because the cutoff thresholds the same salted md5.
    Op("pipeline_mix_temperature", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val minN = counts.agg(min("n_s").as("n_min"))
      val spec = counts.crossJoin(broadcast(minN))
        .withColumn("f",
          floor(sqrt(lit(16384.0) * col("n_min") / col("n_s"))).cast("long"))
        .withColumn("cut",
          when(col("f") >= 256, lit("zz"))
            .otherwise(lpad(lower(hex(col("f"))), 2, "0")))
        .select("source", "cut")
      docs.join(broadcast(spec), "source")
        .filter(substring(md5(concat(lit("temp42:"), col("doc_id"))), 1, 2)
          < col("cut"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    },
      Some("""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
             | m AS (SELECT min(n_s) AS n_min FROM c),
             | spec AS (SELECT source,
             |   CASE WHEN f >= 256 THEN 'zz'
             |     ELSE lpad(lower(to_hex(CAST(f AS INT))), 2, '0') END AS cut
             |  FROM (SELECT source,
             |     CAST(floor(sqrt(16384.0 * n_min / n_s)) AS BIGINT) AS f
             |    FROM c CROSS JOIN m))
             |SELECT d.doc_id, d.source, d.lang
             |FROM documents d JOIN spec USING (source)
             |WHERE substring(md5('temp42:' || CAST(doc_id AS VARCHAR)), 1, 2) < cut
             |ORDER BY doc_id""".stripMargin)),

    // Histogram binning via width_bucket → two-phase count agg.
    Op("agg_histogram", (s, dir) =>
      t(s, dir, "orders")
        .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(12))
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
      Some("""SELECT CAST(FLOOR(o_totalprice / 600000.0 * 12) AS BIGINT) + 1 AS bucket,
             | count(*) AS cnt
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Equi-DEPTH histogram (the optimizer-statistics form: ~equal mass
    // per bucket, data-dependent boundaries — vs agg_histogram's fixed-
    // width bins): decile boundaries from ONE exact-percentile aggregate
    // (a 1-row frame, broadcast), then each row buckets itself by
    // counting boundaries below its value — a scan-stage array lookup,
    // no sort, no ntile. The naive formulation (global ntile window) is
    // a single-task total sort; this shape is two map-side-combined aggs
    // and stays distributed at any scale (the exact percentile is the
    // testable stand-in for approx_percentile's sketch at 100 TB —
    // pipeline_quality_gate shows that swap).
    Op("agg_histogram_equidepth", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val pcts = array((1 to 9).map(i => lit(i / 10.0)): _*)
      val bounds = li.agg(percentile(col("l_extendedprice"), pcts).as("bs"))
      li.select(col("l_extendedprice").as("x"))
        .crossJoin(broadcast(bounds))
        // same codegen'd compare-sum as the approx twin (ArrayFilter's
        // lambda evaluates interpreted per row); bucket semantics and the
        // list_filter oracle are unchanged
        .withColumn("bucket",
          (1 to 9).map(i => (element_at(col("bs"), i) < col("x")).cast("int"))
            .reduce(_ + _))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), min(col("x")).as("lo"),
          max(col("x")).as("hi"), dsum(col("x")).as("sum_x"))
        .orderBy("bucket")
    },
      Some(s"""WITH b AS (SELECT quantile_cont(l_extendedprice,
              |   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM lineitem)
              |SELECT CAST(len(list_filter(bs, e -> e < x)) AS INT) AS bucket,
              | count(*) AS cnt, min(x) AS lo, max(x) AS hi, ${dsumSql("x")} AS sum_x
              |FROM (SELECT l_extendedprice AS x FROM lineitem) CROSS JOIN b
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The 100 TB form of agg_histogram_equidepth: identical two-agg
    // bucketing shape, but the decile boundaries come from ONE mergeable
    // approx_percentile sketch (GK, rank error ≤ n/accuracy) instead of
    // the exact percentile agg that buffers per-group value multisets —
    // the swap every heavy exact key in this repo documents, here as its
    // own key. accuracy=10000 bounds each bucket's mass drift to ~0.1%
    // of n (pinned vs the exact key in the unit suite). Sketch values
    // differ across engines, so no SQL oracle — the exact key is the
    // semantic anchor; this key is the plan that survives the scale-up.
    Op("agg_histogram_equidepth_approx", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val pcts = array((1 to 9).map(i => lit(i / 10.0)): _*)
      val bounds = li.agg(
        approx_percentile(col("l_extendedprice"), pcts, lit(10000)).as("bs"))
      li.select(col("l_extendedprice").as("x"))
        .crossJoin(broadcast(bounds))
        // bucket = #boundaries strictly below x, as 9 codegen'd compares
        // summed (ArrayFilter's lambda evaluates interpreted per row —
        // measured 2x slower on this 600k-row scan stage)
        .withColumn("bucket",
          (1 to 9).map(i => (element_at(col("bs"), i) < col("x")).cast("int"))
            .reduce(_ + _))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), min(col("x")).as("lo"),
          max(col("x")).as("hi"), dsum(col("x")).as("sum_x"))
        .orderBy("bucket")
    },
      None),

    // WINSORIZED mean (the robust-stats staple quality dashboards use
    // when a handful of outlier rows would otherwise own the mean):
    // clip every value into the exact [p05, p95] envelope, then average.
    // Same two-agg shape as agg_histogram_equidepth — ONE 2-double
    // percentile frame broadcast back onto the scan, clip is a pure
    // codegen'd least/greatest projection, and the mean accumulates on
    // the decimal lattice (order-independent, engine-exact). The clip
    // counts make the key self-auditing: n_lo + n_hi ≈ 10% of n by
    // construction. Exact percentile is the oracle-checkable stand-in;
    // at 100 TB the boundary frame swaps to approx_percentile exactly
    // like the equidepth twin.
    Op("agg_winsorized_mean", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val b = li.agg(
        percentile(col("l_extendedprice"), lit(0.05)).as("lo"),
        percentile(col("l_extendedprice"), lit(0.95)).as("hi"))
      li.select(col("l_returnflag"), col("l_extendedprice").as("x"))
        .crossJoin(broadcast(b))
        .withColumn("w", least(greatest(col("x"), col("lo")), col("hi")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          round(dsum(col("w")) / count(lit(1)), 6).as("winsorized_mean"),
          round(dsum(col("x")) / count(lit(1)), 6).as("raw_mean"))
        .orderBy("l_returnflag")
    },
      Some(s"""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
              |    quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem)
              |SELECT l_returnflag, count(*) AS n,
              | CAST(sum(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
              | CAST(sum(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
              | round(${dsumSql("least(greatest(x, lo), hi)")} / count(*), 6)
              |   AS winsorized_mean,
              | round(${dsumSql("x")} / count(*), 6) AS raw_mean
              |FROM (SELECT l_returnflag, l_extendedprice AS x FROM lineitem)
              | CROSS JOIN b
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // DIFFERENTIALLY-PRIVATE count release (the Laplace mechanism,
    // Dwork 2006) over per-language document counts — the privacy-
    // preserving aggregate a dataset card publishes when the corpus
    // membership itself is sensitive. Noise is Laplace(b = 2) =
    // sensitivity 1 / ε 0.5 via inverse-CDF: u ~ U(0,1) from the salted
    // md5 of the GROUP key (the repo's standard deterministic-uniform:
    // engine/partition/run-stable — a reproducible DP release under a
    // fixed release salt), lap = −b·sign(u−½)·ln(1−2|u−½|). The true
    // count is also emitted because this key's job is to VERIFY the
    // mechanism cross-engine (a production release would drop it and
    // rotate the salt per release). Shape: one hash agg; the noise is a
    // scalar projection on the |groups|-row result — zero extra cost at
    // any corpus size.
    Op("pipeline_dp_count_noise", (s, dir) => {
      val b = 2.0
      val h = md5(concat(lit("dp42:"), col("lang")))
      val u = (hexInt(h, 1, 8).cast("long") + lit(0.5)) /
        lit(4294967296.0)
      // The ln output is snapped to a 1e-3 lattice BEFORE the 6-dp
      // release: neither engine guarantees correctly-rounded ln, and a
      // 1-ulp divergence on a value that lands within an ulp of a 6-dp
      // rounding boundary would flake the cross-engine hash. Quantizing
      // 1000x coarser first shrinks that boundary-collision window by
      // three orders of magnitude (the residual risk — ln landing within
      // an ulp of a 1e-3 boundary — is theoretically nonzero but
      // vanishing, and is the documented limit of float-releasing
      // mechanisms here).
      val lap = round(lit(-b) * signum(u - lit(0.5)) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))), 3)
      t(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("noisy_n", round(col("n") + lap, 6))
        .select(col("lang"), col("n"), col("noisy_n"))
        .orderBy("lang")
    },
      // same hex₁₋₈ → u decode as sample_weighted's oracle; the ln output
      // is snapped to a 1e-3 lattice before the 6-dp release (ln is NOT
      // guaranteed correctly-rounded in either engine — the coarse snap is
      // what keeps a 1-ulp divergence away from the release boundary)
      Some(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
             | h AS (SELECT lang, n, md5('dp42:' || lang) AS h FROM c),
             | u AS (SELECT lang, n,
             |    (${hexIntSql("h", 1, 8)}
             |     + 0.5) / 4294967296.0 AS u
             |   FROM h)
             |SELECT lang, n,
             | round(n + round((-2.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 3), 6)
             |   AS noisy_n
             |FROM u ORDER BY lang""".stripMargin)),

    // Multi-distinct aggregation: three DISTINCT aggregates (one of them
    // multi-column) + a plain count in ONE groupBy — Catalyst plans this
    // with a single Expand (row multiplier = #distinct groups), not one
    // job per distinct.
    Op("agg_distinct_multi", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey"), col("l_suppkey")).as("n_ps"),
          count_distinct(col("l_partkey")).as("n_p"),
          count_distinct(col("l_suppkey")).as("n_s"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""WITH g AS (SELECT l_returnflag,
             |   count(DISTINCT l_partkey) AS n_p,
             |   count(DISTINCT l_suppkey) AS n_s,
             |   count(*) AS n
             |  FROM lineitem GROUP BY 1),
             | ps AS (SELECT l_returnflag, count(*) AS n_ps FROM
             |   (SELECT DISTINCT l_returnflag, l_partkey, l_suppkey FROM lineitem)
             |  GROUP BY 1)
             |SELECT g.l_returnflag, n_ps, n_p, n_s, n
             |FROM g JOIN ps USING (l_returnflag) ORDER BY l_returnflag""".stripMargin)),

    // Bitwise aggregates (bit_and/bit_or/bit_xor) — set-membership masks
    // and parity checks at aggregation time.
    Op("agg_bitwise", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          bit_and(col("l_linenumber")).as("band"),
          bit_or(col("l_linenumber")).as("bor"),
          bit_xor(col("l_orderkey")).as("bxor"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | CAST(bit_and(l_linenumber) AS INT) AS band,
             | CAST(bit_or(l_linenumber) AS INT) AS bor,
             | bit_xor(l_orderkey) AS bxor
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // grouping()/grouping_id() disambiguate NULL-as-total from NULL-as-
    // value in cube outputs.
    Op("agg_grouping_id", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping_id().cast("int").as("gid"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
             | CAST(grouping(l_returnflag) AS INT) AS g_rf
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // String padding/shaping: lpad/rpad/repeat/reverse/translate.
    Op("fn_string_pad", (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_padded"),
        repeat(lit("ab"), 3).as("rep"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"),
      ).orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             | lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
             | rpad(c_mktsegment, 12, '.') AS seg_padded,
             | repeat('ab', 3) AS rep,
             | reverse(c_mktsegment) AS seg_rev,
             | translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // nth_value over a full-partition frame.
    Op("win_nth_value", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
      ).orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_custkey,
             | nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
             |   ORDER BY o_totalprice DESC, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Correlated EXISTS — Catalyst decorrelates the subquery into a semi
    // join (RewritePredicateSubquery); declared in SQL because that is
    // the shape users write it in.
    Op("subquery_exists_correlated", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_sq")
      t(s, dir, "customer").createOrReplaceTempView("customer_sq")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_sq c
          |WHERE EXISTS (SELECT 1 FROM orders_sq o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)
    },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    // Correlated scalar subquery — decorrelated into an aggregate + join;
    // each order's price relative to its customer's average.
    Op("subquery_scalar_correlated", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_sq2")
      s.sql(
        """SELECT o_orderkey,
          | round(o_totalprice / (SELECT avg(i.o_totalprice) FROM orders_sq2 i
          |   WHERE i.o_custkey = o.o_custkey), 6) AS rel_price
          |FROM orders_sq2 o ORDER BY o_orderkey""".stripMargin)
    },
      Some("""SELECT o_orderkey,
             | round(o_totalprice / (SELECT avg(i.o_totalprice) FROM orders i
             |   WHERE i.o_custkey = o.o_custkey), 6) AS rel_price
             |FROM orders o ORDER BY o_orderkey""".stripMargin)),

    // IN + quantified-ALL subqueries — the remaining ANSI subquery forms
    // next to EXISTS/scalar. The IN decorrelates to a left-semi join
    // against the (tiny, broadcast) high-balance customer set. Spark's
    // parser has no `>= ALL (subquery)`, so the engine states the
    // decorrelation a quantified comparison reduces to — a correlated
    // MAX scalar subquery (aggregate per custkey + join back, exactly
    // what an ALL-rewrite rule would emit); the oracle keeps the literal
    // `>= ALL` to pin that the two forms agree. Each premium customer's
    // most expensive order, no row compared more than once per group.
    Op("subquery_in_any_all", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_sq3")
      t(s, dir, "customer").createOrReplaceTempView("customer_sq3")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_sq3 o
          |WHERE o_custkey IN (SELECT c_custkey FROM customer_sq3
          |    WHERE c_acctbal > 9000)
          |  AND o_totalprice >= (SELECT max(i.o_totalprice) FROM orders_sq3 i
          |    WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |    WHERE c_acctbal > 9000)
             |  AND o_totalprice >= ALL (SELECT i.o_totalprice FROM orders i
             |    WHERE i.o_custkey = o.o_custkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // The SQL entry path: same engine, same Catalyst plan, declared in
    // ANSI SQL over a temp view instead of the DataFrame DSL.
    Op("sql_api_q1", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          | count(*) AS n
          |FROM lineitem_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    },
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             | count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // PARAMETERIZED SQL (Spark 4 named-parameter binding — the injection-
    // safe templated-query surface a query service exposes): the
    // predicate values arrive as typed args to spark.sql, never spliced
    // into the text, and bind at ANALYSIS time — so pushdown sees the
    // literal and the plan is byte-identical to the hand-written one
    // (same scan PushedFilters, same partial agg). The oracle inlines
    // the same literals.
    Op("sql_api_parameterized", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_pv")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM orders_pv
          |WHERE o_totalprice > :minPrice AND o_orderstatus = :status
          |GROUP BY 1 ORDER BY 1""".stripMargin,
        Map("minPrice" -> 200000, "status" -> "O"))
    },
      Some("""SELECT o_orderpriority, count(*) AS n,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
             |FROM orders
             |WHERE o_totalprice > 200000 AND o_orderstatus = 'O'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INCREMENTAL AGGREGATION — materialized-view maintenance, the
    // pattern that keeps a 100 TB pipeline from rescanning history every
    // day: the pre-cutoff aggregate state is PERSISTED (parquet, as a
    // real pipeline would), the new day aggregates only its own delta,
    // and the merge is a full-outer join + summed coalesce on the
    // aggregate frames (|users| rows, not events). The decimal sums
    // merge exactly (associative by construction — the same property
    // that makes them partial-aggregable), so the maintained view is
    // bit-identical to the full recompute, which is what the oracle
    // states.
    Op("pipeline_incremental_agg", (s, dir) => {
      val cutoff = lit("2024-01-08 00:00:00").cast("timestamp")
      def aggState(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("sv"))
      val ev = events(s, dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_agg_state"
      aggState(ev.filter(col("ts") < cutoff))
        .write.mode("overwrite").parquet(tmp)
      val state = s.read.parquet(tmp)
        .select(col("user_id"), col("n").as("n_old"), col("sv").as("sv_old"))
      val delta = aggState(ev.filter(col("ts") >= cutoff))
        .select(col("user_id"), col("n").as("n_new"), col("sv").as("sv_new"))
      state.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
            .as("n_events"),
          (coalesce(col("sv_old"), lit(0).cast("decimal(18,6)"))
            + coalesce(col("sv_new"), lit(0).cast("decimal(18,6)")))
            .cast("double").as("sum_value"))
        .orderBy("user_id")
    },
      Some(s"""SELECT user_id, count(*) AS n_events,
              | ${dsum6Sql("value")} AS sum_value
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // The same aggregation declared in Spark 4's SQL PIPE syntax
    // (`|>` — SQL as a linear dataflow, the readability bridge between
    // the DataFrame DSL and nested ANSI SQL). Parses to the identical
    // Catalyst plan as sql_api_q1's formulation: the pipe operators are
    // pure surface syntax, so every optimization (pushdown through the
    // WHERE stage, partial aggregation) applies unchanged.
    Op("sql_api_pipe", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
      s.sql(
        """FROM lineitem_pipe_v
          ||> WHERE l_quantity > 10
          ||> AGGREGATE CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          |     count(*) AS n
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             | count(*) AS n
             |FROM lineitem WHERE l_quantity > 10
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Seeded Bernoulli sample via the repo's standard salted-md5 gate
    // (seed = the salt): substring(md5('samp7:' || doc_id), 1, 2) < '40'
    // keeps exactly the 64/256 = 25% of the hash space below 0x40.
    // Deliberately NOT Spark's .sample(seed): the XORShift row gate is
    // engine-internal (no SQL oracle, partition-layout-sensitive),
    // whereas the md5 gate is bit-identical in any engine, partition-
    // and run-stable, and monotone in the rate (lowering the cutoff
    // keeps an exact subset) — the same reproducible-membership contract
    // every sampler in this repo rides. Zero-shuffle scan→filter.
    Op("sample_seeded", (s, dir) =>
      t(s, dir, "documents")
        .filter(substring(md5(concat(lit("samp7:"), col("doc_id"))), 1, 2)
          < "40")
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE substring(md5('samp7:' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
             |ORDER BY doc_id""".stripMargin)),

    // es-key expression factored to [[RelationalExt.esKey]] so the
    // streaming reservoir twin ranks by the bit-identical column.
    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    // each doc draws u ~ U(0,1) from a salted md5 (engine/partition/
    // run-stable, like every sampler here) and the top-k per stratum
    // under the key ln(u)/weight is exactly a weighted sample without
    // replacement — inclusion probability increasing in weight. Weight =
    // n_chars (prefer substantial documents); u = (hex₁₋₈ + 0.5)/2³² is
    // strictly inside (0,1), so ln never sees 0. Scale: strata are FEW
    // (5 langs), so one lang-partitioned window would shuffle the whole
    // corpus into 5 skewed tasks; instead top-k runs two-phase — a
    // (lang, md5-bucket) window spreads the corpus over 32 even buckets
    // and prunes to ≤ 32·k rows per lang, then the tiny survivor set
    // takes the exact global top-k. Selection is identical either way
    // (global top-k ⊆ union of bucket top-ks); the oracle replays the
    // single-window form.
    Op("sample_weighted", (s, dir) => {
      val k = 10
      val h = md5(concat(lit("wsamp42:"), col("doc_id")))
      val keyed = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          esKey(col("doc_id"), col("n_chars")).as("es_key"),
          (hexInt(h, 9, 2).cast("int") % 32).as("bkt"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "bkt").orderBy(desc("es_key"), col("doc_id"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(desc("es_key"), col("doc_id"))
      keyed.withColumn("brk", row_number().over(wb)).filter(col("brk") <= k)
        .withColumn("rk", row_number().over(wl)).filter(col("rk") <= k)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"),
          round(col("es_key"), 6).as("es_key"))
        .orderBy("lang", "rk")
    },
      // Same hex₁₋₈ decode (hexIntSql), u and es_key formulas as the
      // Spark side.
      Some(s"""WITH h AS (SELECT lang, doc_id, n_chars,
             |     md5('wsamp42:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
             | u AS (SELECT lang, doc_id, n_chars,
             |     ${hexIntSql("h", 1, 8)} AS v
             |   FROM h),
             | r AS (SELECT lang, doc_id, n_chars,
             |     ln((v + 0.5) / 4294967296.0) / n_chars AS es_key,
             |     row_number() OVER (PARTITION BY lang
             |       ORDER BY ln((v + 0.5) / 4294967296.0) / n_chars DESC, doc_id) AS rk
             |   FROM u)
             |SELECT lang, rk, doc_id, n_chars, round(es_key, 6) AS es_key
             |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin)),

    // regexp_extract_all (array-returning regex) — output stringified for
    // the scalar-only oracle harness.
    Op("fn_regexp_extract_all", (s, dir) => {
      val words = regexp_extract_all(col("p_type"), lit("\\w+"), lit(0))
      t(s, dir, "part").select(
        col("p_partkey"),
        array_join(words, "|").as("words"),
        size(words).as("n_words"),
      ).orderBy("p_partkey")
    },
      Some("""SELECT p_partkey,
             | array_to_string(regexp_extract_all(p_type, '\w+'), '|') AS words,
             | CAST(len(regexp_extract_all(p_type, '\w+')) AS INT) AS n_words
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // str_to_map: parse a k=v,k=v string into a map, extract typed fields.
    Op("fn_str_to_map", (s, dir) => {
      val kv = concat(lit("status="), col("o_orderstatus"),
        lit(",prio="), col("o_orderpriority"))
      val m = str_to_map(kv, lit(","), lit("="))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        element_at(m, "status").as("status"),
        element_at(m, "prio").as("prio"),
        size(m).as("n"),
      ).orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS prio,
             | CAST(2 AS INT) AS n
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Time-series forward fill: carry the last non-null observation
    // forward per key — last(ignoreNulls) over a running rows-frame, one
    // shuffle on the key, no self-join.
    Op("ts_forward_fill", (s, dir) => {
      val obs = when(col("event_type") === "purchase", col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(col("event_id"), col("user_id"),
        last(obs, ignoreNulls = true).over(w).as("ffill_value"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, user_id,
             | last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             |   OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
             |FROM events ORDER BY event_id""".stripMargin)),

    // Explicit bloom-filter runtime pruning: build a bloom over the dim
    // keys (scalar subquery — one tiny broadcast), prune the fact scan
    // with might_contain BEFORE the join, then the exact semi join mops
    // up false positives. Catalyst's InjectRuntimeFilter does this
    // automatically for some shuffle-join shapes; the explicit form
    // covers the rest (e.g. pre-shuffle pruning both sides of a
    // fact-fact SMJ). Result is exactly the plain semi join.
    Op("join_bloom_pruned", (s, dir) => {
      graft.functions.VecFunctions.registerMightContain(s)
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .createOrReplaceTempView("bloom_dim")
      val dim = s.table("bloom_dim").select(col("c_custkey"))
      t(s, dir, "orders")
        .filter(expr(
          """might_contain(
            |  (SELECT bloom_filter_agg(xxhash64(c_custkey), 5000L, 50000L) FROM bloom_dim),
            |  xxhash64(o_custkey))""".stripMargin))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders WHERE o_custkey IN (
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q3 shape (shipping priority): two fact filters pushed to the
    // scans, customer dimension broadcast, one shuffle on l_orderkey for
    // the join + one for the final agg, top-10 via TakeOrderedAndProject.
    Op("tpch_q3", (s, dir) => {
      val cutoff = lit("1995-03-15").cast("date")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      Some(s"""SELECT l_orderkey, o_orderdate,
              | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              | JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              | AND o_orderdate < DATE '1995-03-15'
              | AND l_shipdate > DATE '1995-03-15'
              |GROUP BY l_orderkey, o_orderdate
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Overlapping document chunking — the retrieval-prep step (RAG):
    // each doc's tokens cut into 64-token chunks advancing by 48 (16
    // tokens of overlap so no span straddles a boundary unseen). Pure
    // projection — sequence(1, n, stride) + posexplode + slice — zero
    // shuffles, embarrassingly parallel at any scale.
    Op("pipeline_chunk_docs", (s, dir) => {
      val (chunk, stride) = (ChunkTokens, ChunkTokens - ChunkOverlap)
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          posexplode(sequence(lit(1), size(col("toks")), lit(stride)))
            .as(Seq("chunk_id", "start")),
          col("toks"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(slice(col("toks"), col("start"), lit(chunk))).cast("long").as("n_tokens"),
          array_join(slice(col("toks"), col("start"), lit(chunk)), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
              | c AS (SELECT doc_id, toks,
              |   unnest(generate_series(1, len(toks), ${ChunkTokens - ChunkOverlap})) AS start
              |  FROM t)
              |SELECT doc_id,
              | CAST((start - 1) // ${ChunkTokens - ChunkOverlap} AS BIGINT) AS chunk_id,
              | CAST(len(toks[start:start + ${ChunkTokens - 1}]) AS BIGINT) AS n_tokens,
              | array_to_string(toks[start:start + ${ChunkTokens - 1}], ' ') AS chunk_text
              |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // LABEL REBALANCE — equalize class sizes by deterministically
    // downsampling every language to the minority class's count (the
    // classifier-training prep step: a 90/10 skew otherwise dominates
    // the loss). The keep-set is an md5-ranked prefix per class — salted
    // hash order, so it is corpus-stable (adding docs to one class
    // cannot evict another class's keeps), engine-portable, and replays
    // bit-identically; no rand(), no global sort (the rank window is
    // per-class). The 1-row n_min aggregate broadcasts onto the
    // class-partitioned rank frame.
    Op("pipeline_label_balance", (s, dir) => {
      val docs = t(s, dir, "documents")
      val nMin = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("n_min"))
      val w = Window.partitionBy("lang")
        .orderBy(md5(concat(lit("bal7:"), col("doc_id"))), col("doc_id"))
      docs.select(col("lang"), col("doc_id"))
        .withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(nMin))
        .filter(col("rk") <= col("n_min"))
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    },
      Some("""WITH r AS (SELECT lang, doc_id, row_number() OVER (
             |   PARTITION BY lang
             |   ORDER BY md5('bal7:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
             | FROM documents),
             | m AS (SELECT min(n) AS n_min FROM
             |   (SELECT count(*) AS n FROM documents GROUP BY lang))
             |SELECT lang, doc_id FROM r, m WHERE rk <= n_min
             |ORDER BY lang, doc_id""".stripMargin)),

    // EPOCH SHUFFLE — the training-loop reshuffle: each epoch needs a
    // different-but-DETERMINISTIC global permutation of the corpus
    // (resumable, reproducible, no rand()). The permutation key is the
    // epoch-salted md5 of the doc id; the corpus never globally sorts —
    // it hash-shards on one nibble of the digest (fixed fan-out, the
    // shard is the unit a trainer streams) and orders WITHIN each shard
    // by the digest, so the only window is per-shard. Changing the
    // epoch salt permutes both shard assignment and intra-shard order;
    // same salt replays bit-identically on any cluster.
    Op("pipeline_epoch_shuffle", (s, dir) => {
      val h = md5(concat(lit("epoch3:"), col("doc_id")))
      val shard = hexInt(col("h"), 1, 1).cast("int") % 8
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents").select(col("doc_id"), h.as("h"))
        .withColumn("shard", shard)
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    },
      Some(s"""WITH h AS (SELECT doc_id,
             |   md5('epoch3:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
             | s AS (SELECT doc_id, h,
             |   CAST(${hexIntSql("h", 1, 1)} % 8 AS INT) AS shard
             | FROM h)
             |SELECT doc_id, shard,
             | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
             |FROM s ORDER BY shard, pos""".stripMargin)),

    // DATASET CARD — the per-language corpus summary every released
    // training set ships (counts, token budget, source diversity,
    // duplication rate, length profile): one composite readout over the
    // documents table. Exactly two exchanges at any corpus size: the
    // multi-distinct Expand agg on lang (sources + distinct texts ride
    // the same pass) and nothing else — token counts and lengths fold
    // map-side as plain sums. The dup rate is exact-dedup's definition
    // (docs − distinct texts) surfaced as a correctly-rounded ratio.
    Op("pipeline_dataset_card", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("source"), col("text"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("text")).as("n_unique_docs"),
          sum(col("n_chars")).as("total_chars"))
        .withColumn("dup_rate",
          (col("n_docs") - col("n_unique_docs")) / col("n_docs"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
             | count(DISTINCT source) AS n_sources,
             | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             | count(DISTINCT text) AS n_unique_docs,
             | CAST(sum(n_chars) AS BIGINT) AS total_chars,
             | (count(*) - count(DISTINCT text)) / count(*) AS dup_rate
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // SHARDED ORDERED OUTPUT — the training-corpus materialization step:
    // range-repartition by (source, doc_id), sort within partitions, cap
    // rows per file (`maxRecordsPerFile`), write, and read back. This is
    // the layout contract a 100 TB corpus is delivered under: globally
    // range-clustered (each shard file covers a disjoint key range, so a
    // consumer streams shards in order without a merge), internally
    // sorted (parquet min/max stats stay tight per row group), and
    // size-bounded (no straggler files — the knob that actually controls
    // downstream task granularity). One rangepartitioning exchange is
    // the whole query-time cost; LayoutSpec pins the per-file row cap,
    // the internal sort, and the cross-file range disjointness. The
    // query returns the read-back per-source profile — the oracle checks
    // the roundtrip loses nothing.
    Op("pipeline_shard_write", (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_shards"
      t(s, dir, "documents")
        .repartitionByRange(8, col("source"), col("doc_id"))
        .sortWithinPartitions("source", "doc_id")
        .write.mode("overwrite").option("maxRecordsPerFile", 100)
        .parquet(tmp)
      s.read.parquet(tmp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy("source")
    },
      Some("""SELECT source, count(*) AS n_docs, min(doc_id) AS min_id,
             | max(doc_id) AS max_id, CAST(sum(n_chars) AS BIGINT) AS n_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // SHARD-SKEW AUDIT (round 11) — the layout health check a corpus
    // owner runs before handing shards to the trainer: assign every doc
    // its hash shard (salted md5, 2 hex digits mod 64 — 256 % 64 = 0 so
    // the decode is bias-free), aggregate per-shard doc/byte loads, and
    // release the skew verdict: max-shard/mean-shard load and the Gini
    // coefficient of the byte distribution (the one number that says
    // "your 64 shards are really 9 fat ones"). All integer/lattice
    // arithmetic: Gini = Σ(2i−S−1)·b_(i) / (S·Σb) over the BYTES-ranked
    // shard ledger, released as (1e6·num) div den. The rank window is
    // unpartitioned BY CONSTRUCTION on a ≤64-row frame (PlanSpec
    // allowlist) — the corpus is touched exactly once by the shard agg.
    Op("pipeline_shard_skew_audit", (s, dir) => {
      val h = md5(concat(lit("shard7:"), col("doc_id")))
      val per = t(s, dir, "documents")
        .select((hexInt(h, 1, 2).cast("int") % 64)
          .as("shard"), col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_bytes"))
      val tot = per.agg(count(lit(1)).as("s_cnt"),
        sum("n_docs").as("tot_docs"), sum("n_bytes").as("tot_bytes"),
        max("n_bytes").as("max_bytes"))
      per.withColumn("i",
          row_number().over(Window.orderBy(col("n_bytes"), col("shard"))))
        .crossJoin(broadcast(tot))
        .agg(
          max("s_cnt").cast("int").as("n_shards"),
          max("tot_docs").as("n_docs"),
          max("tot_bytes").as("n_bytes"),
          max("max_bytes").as("max_bytes"),
          max(expr("(1000000 * s_cnt * max_bytes) div tot_bytes"))
            .as("max_over_mean_micro"),
          expr("(1000000 * sum((2*i - s_cnt - 1) * n_bytes)) div " +
            "(max(s_cnt) * max(tot_bytes))").as("gini_micro"))
    },
      Some(s"""WITH sh AS (SELECT
             |   CAST(${hexIntSql("md5('shard7:' || CAST(doc_id AS VARCHAR))", 1, 2)}
             |   % 64 AS INT) AS shard, n_chars
             |  FROM documents),
             | per AS (SELECT shard, count(*) AS n_docs,
             |   CAST(sum(n_chars) AS BIGINT) AS n_bytes
             |  FROM sh GROUP BY 1),
             | rk AS (SELECT shard, n_docs, n_bytes,
             |   row_number() OVER (ORDER BY n_bytes, shard) AS i FROM per),
             | tot AS (SELECT count(*) AS s_cnt,
             |   CAST(sum(n_docs) AS BIGINT) AS tot_docs,
             |   CAST(sum(n_bytes) AS BIGINT) AS tot_bytes,
             |   max(n_bytes) AS max_bytes FROM per)
             |SELECT CAST(s_cnt AS INT) AS n_shards, tot_docs AS n_docs,
             | tot_bytes AS n_bytes, max_bytes,
             | CAST((1000000 * s_cnt * max_bytes) // tot_bytes AS BIGINT)
             |   AS max_over_mean_micro,
             | CAST((1000000 * (SELECT sum((2*i - s_cnt - 1) * n_bytes)
             |     FROM rk, tot)) // (s_cnt * tot_bytes) AS BIGINT)
             |   AS gini_micro
             |FROM tot""".stripMargin)),

    // Sequence packing — the pretraining batching step: concatenate each
    // source's docs in doc_id order and cut every PackTokenBudget
    // whitespace tokens; a doc belongs to the sequence its FIRST token
    // falls in (concat-and-chunk with doc-granularity assignment; true
    // greedy reset-packing is inherently sequential and not
    // window-expressible). One window cumsum + one agg, both on the
    // source partitioning. Scale: `source` is the shard unit — packing
    // is per-shard by design (as in real pipelines), so the window never
    // needs a global order; a giant source would be pre-split into
    // (source, shard) files upstream. Output: one row per packed
    // sequence with its doc span and token fill.
    // CONTEXT-WINDOW AUDIT (round 12) — the report read before PICKING a
    // max sequence length: for each candidate window (512/1k/2k/4k
    // tokens), how many documents would truncate and what share of the
    // corpus token mass falls off the end? (Truncation loss is the
    // quiet data-quality tax of a too-small context; over-long windows
    // waste attention compute — this is the curve both decisions read.)
    // Shape: one scan-stage token-count projection, a 4-literal explode
    // (rows ×4, map-side combinable), one 4-group hash agg — linear,
    // one exchange of 4 partials. Token rule = size(split(text, ' ')),
    // the pack_sequences/sweep-oracle convention. All exact longs; the
    // one share division is a single IEEE op per output row.
    Op("pipeline_context_window_audit", (s, dir) => {
      t(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"),
          explode(array(lit(512L), lit(1024L), lit(2048L), lit(4096L)))
            .as("window_tokens"))
        .groupBy("window_tokens")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tok") > col("window_tokens"), 1L).otherwise(0L))
            .as("n_docs_truncated"),
          sum(when(col("n_tok") > col("window_tokens"),
            col("n_tok") - col("window_tokens")).otherwise(0L))
            .as("tokens_lost"),
          sum("n_tok").as("tokens_total"))
        .select(col("window_tokens"), col("n_docs"), col("n_docs_truncated"),
          col("tokens_lost"),
          round(col("tokens_lost").cast("double") /
            col("tokens_total").cast("double"), 6).as("share_lost"))
        .orderBy("window_tokens")
    },
      Some("""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
             |   AS n_tok FROM documents),
             | e AS (SELECT n_tok, CAST(w AS BIGINT) AS window_tokens
             |  FROM d CROSS JOIN (SELECT unnest([512, 1024, 2048, 4096]) AS w))
             |SELECT window_tokens, count(*) AS n_docs,
             | CAST(sum(CASE WHEN n_tok > window_tokens THEN 1 ELSE 0 END)
             |   AS BIGINT) AS n_docs_truncated,
             | CAST(sum(CASE WHEN n_tok > window_tokens
             |   THEN n_tok - window_tokens ELSE 0 END) AS BIGINT) AS tokens_lost,
             | round(CAST(sum(CASE WHEN n_tok > window_tokens
             |     THEN n_tok - window_tokens ELSE 0 END) AS DOUBLE)
             |   / CAST(sum(n_tok) AS DOUBLE), 6) AS share_lost
             |FROM e GROUP BY 1 ORDER BY window_tokens""".stripMargin)),

    Op("pipeline_pack_sequences", (s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("pre", coalesce(
          sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("seq_id", floor(col("pre") / PackTokenBudget))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "seq_id")
    },
      Some(s"""WITH d AS (SELECT source, doc_id,
              |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              |  FROM documents),
              | c AS (SELECT source, doc_id, n_tokens,
              |   coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
              |  FROM d)
              |SELECT source, CAST(floor(pre / $PackTokenBudget) AS BIGINT) AS seq_id,
              | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              | min(doc_id) AS first_doc, max(doc_id) AS last_doc
              |FROM c GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin)),

    // The end-to-end training-data story in one query: quality filter →
    // exact dedup (keep smallest doc_id per text) → near-dup removal
    // (drop non-canonical cluster members, via DedupOps.clusterLabels) →
    // deterministic train/test fold → per-fold corpus stats. Every stage
    // is one of the engine's verified operators; the composite pins that
    // they compose.
    // Quality-aware canonical selection: per near-dup cluster keep the
    // HIGHEST-quality member, not the smallest id — the production form
    // of "which copy survives dedup" (min-id keeps whichever crawl
    // happened to be enumerated first; quality-argmax keeps the best
    // extraction of the page). Singletons are their own group via
    // coalesce, so every doc is labeled. Scale: the CC labels are
    // id-pairs only; quality is a scan-stage projection; the argmax
    // window partitions by group_id — dup clusters are small by
    // construction, so no skewed partition exists. Shares qualityScore/
    // qualitySql with text_quality_score (no formula drift).
    // 2-D skyline (Pareto frontier): parts not dominated on
    // (price ↓ better, size ↑ better) — the multi-objective "best
    // tradeoffs" query (Börzsönyi et al., ICDE 2001). Not an all-pairs
    // dominance test: a per-price max(size) pre-agg (map-side combined,
    // corpus-scale shuffle) reduces the frontier scan to one pass over
    // the PRICE DOMAIN — the ordered prefix-max window runs on ≤
    // |distinct prices| rows (a value domain, e.g. cents in a bounded
    // range — NOT corpus-sized; this is the documented bound that makes
    // the unpartitioned window safe), and the corpus only re-joins on
    // price to pick up survivors. A row survives iff no strictly
    // cheaper price reaches its size (prefix max < size) and nothing at
    // its own price strictly beats it (size = per-price max); exact
    // duplicates both survive (dominance requires one strict edge).
    Op("skyline_pareto", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val perPrice = p.groupBy("p_retailprice").agg(max(col("p_size")).as("msize"))
      val prefix = Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
      val dom = perPrice.withColumn("prev_max", max(col("msize")).over(prefix))
      p.join(dom, "p_retailprice")
        .filter(col("p_size") === col("msize") &&
          (col("prev_max").isNull || col("prev_max") < col("p_size")))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    },
      // The oracle states the dominance definition directly (NOT EXISTS a
      // dominator); the engine's domain-scan plan must produce the same set.
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part a
             |WHERE NOT EXISTS (SELECT 1 FROM part b
             |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
             |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
             |ORDER BY p_partkey""".stripMargin)),

    // Inverse-cluster-size downsampling — the dedup-AWARE sampler: keep
    // each doc with probability 1/|its near-dup cluster|, so every
    // duplicate cluster contributes ~1 doc in expectation (singletons
    // always survive) without ever picking a fixed representative —
    // the soft alternative to pipeline_dedup_canonical's argmax when
    // diversity inside a cluster should survive. The keep decision is
    // md5-salt integer arithmetic (h₁₆(doc) · size < 2¹⁶) — engine/
    // partition/run-stable like every sampler here, no rand(). Scale:
    // labels are id-pairs, sizes one agg, the gate a scan-stage filter.
    Op("pipeline_cluster_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = DedupOps.corpusLabelsFull(s, dir)
      val grouped = docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      val sizes = grouped.groupBy("group_id").agg(count(lit(1)).as("sz"))
      val h16 = hexInt(md5(concat(lit("invsamp42:"), col("doc_id"))), 1, 4).cast("long")
      grouped.join(sizes, "group_id")
        .filter(h16 * col("sz") < 65536L)
        .select("doc_id", "group_id", "sz")
        .orderBy("doc_id")
    },
      Some(s"""WITH ${DedupOps.clusterLabelsSql("documents")},
              | grouped AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS group_id
              |   FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
              | sizes AS (SELECT group_id, count(*) AS sz FROM grouped GROUP BY 1),
              | hh AS (SELECT doc_id, group_id,
              |   md5('invsamp42:' || CAST(doc_id AS VARCHAR)) AS h FROM grouped)
              |SELECT hh.doc_id, hh.group_id, sizes.sz
              |FROM hh JOIN sizes USING (group_id)
              |WHERE ${hexIntSql("h", 1, 4)} * sz < 65536
              |ORDER BY doc_id""".stripMargin)),

    // Quality-proportional importance resampling: keep each doc with
    // probability equal to its quality score (p ∈ [0,1] from the shared
    // qualityScore formula) — the soft alternative to the hard quartile
    // cut of pipeline_quality_gate (a 0.9-quality doc survives 9× more
    // often than a 0.1 one, but nothing is deterministically discarded;
    // the form most curation pipelines actually ship). The coin is the
    // usual salted-md5 integer gate (h₁₆ < ⌊quality·2¹⁶⌋): no rand(),
    // monotone in the score (raising a doc's quality can only flip it
    // to kept), engine/partition/run-stable. Scale: pure scan-stage
    // projection + filter — ZERO shuffles; the score and the gate are
    // both per-row expressions.
    Op("pipeline_importance_resample", (s, dir) => {
      val h16 = hexInt(md5(concat(lit("impsamp42:"), col("doc_id"))), 1, 4).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.qualityScore(col("text")).as("quality"))
        .filter(h16 < floor(col("quality") * 65536.0))
        .orderBy("doc_id")
    },
      Some(s"""WITH q AS (SELECT doc_id, source,
              |   ${TextOps.qualitySql("text")} AS quality,
              |   md5('impsamp42:' || CAST(doc_id AS VARCHAR)) AS h
              | FROM documents)
              |SELECT doc_id, source, quality FROM q
              |WHERE ${hexIntSql("h", 1, 4)}
              |   < floor(quality * 65536.0)
              |ORDER BY doc_id""".stripMargin)),

    // DATA-CONTRACT AUDIT — the dbt-tests / Great-Expectations analog in
    // one pass: the named assertions a pipeline's contract declares on
    // the warehouse (referential integrity, key uniqueness, null-free
    // columns, value ranges), each returning its VIOLATION count, with
    // rows_checked beside it so an empty-input run cannot masquerade as
    // a clean one. Every rule is an exact integer count (anti-join
    // cardinality, count − count_distinct, boolean sums) — bit-exact in
    // any engine. Scale: each rule is one pass over its own table (the
    // FK checks shuffle on the key like any fact join; AQE broadcasts
    // the dim side where it fits); violations land in a 6-row report
    // regardless of corpus size. The contract lives HERE, versioned
    // with the engine, not in a dashboard.
    Op("pipeline_data_contract", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val ev = events(s, dir)
      val docs = t(s, dir, "documents")
      def rule(name: String, checked: org.apache.spark.sql.DataFrame,
          violations: org.apache.spark.sql.Column) =
        checked.agg(count(lit(1)).as("rows_checked"),
            violations.as("nv"))
          .select(lit(name).as("rule"), col("rows_checked"),
            col("nv").cast("long").as("n_violations"))
      // FK rules DEDUP the dim key before the left join, so a duplicate
      // dim key can never inflate rows_checked past the base count
      // (round-9 ADVICE) — and the rule stays ONE pass over the base
      // table + a dim-sized distinct agg (the two-scan base-count +
      // anti-join form was measured 2× slower at sf0.1).
      def fkRule(name: String, base: org.apache.spark.sql.DataFrame,
          baseKey: String, dim: org.apache.spark.sql.DataFrame,
          dimKey: String) =
        rule(name,
          base.select(baseKey)
            .join(dim.select(col(dimKey)).distinct(),
              col(baseKey) === col(dimKey), "left")
            .select(col(dimKey).isNull.as("viol")),
          sum(when(col("viol"), 1L).otherwise(0L)))
      fkRule("fk_lineitem_orders", li, "l_orderkey", ord, "o_orderkey")
        .unionAll(fkRule("fk_orders_customer", ord, "o_custkey",
          cust, "c_custkey"))
        .unionAll(rule("not_null_events_user",
          ev.select(col("user_id").isNull.as("viol")),
          sum(when(col("viol"), 1L).otherwise(0L))))
        .unionAll(rule("range_lineitem_qty",
          li.select((col("l_quantity") < 1 || col("l_quantity") > 50).as("viol")),
          sum(when(col("viol"), 1L).otherwise(0L))))
        .unionAll(rule("range_events_value",
          ev.select((col("value") < 0).as("viol")),
          sum(when(col("viol"), 1L).otherwise(0L))))
        .unionAll(rule("unique_documents_id",
          docs.select("doc_id"),
          count(lit(1)) - count_distinct(col("doc_id"))))
        .orderBy("rule")
    },
      Some("""SELECT * FROM (
             | SELECT 'fk_lineitem_orders' AS rule,
             |   (SELECT count(*) FROM lineitem) AS rows_checked,
             |   (SELECT count(*) FROM lineitem l LEFT JOIN orders o
             |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
             |     AS n_violations
             | UNION ALL SELECT 'fk_orders_customer',
             |   (SELECT count(*) FROM orders),
             |   (SELECT count(*) FROM orders o LEFT JOIN customer c
             |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
             | UNION ALL SELECT 'not_null_events_user',
             |   (SELECT count(*) FROM events),
             |   (SELECT count(*) FROM events WHERE user_id IS NULL)
             | UNION ALL SELECT 'range_lineitem_qty',
             |   (SELECT count(*) FROM lineitem),
             |   (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
             | UNION ALL SELECT 'range_events_value',
             |   (SELECT count(*) FROM events),
             |   (SELECT count(*) FROM events WHERE value < 0)
             | UNION ALL SELECT 'unique_documents_id',
             |   (SELECT count(*) FROM documents),
             |   (SELECT count(*) - count(DISTINCT doc_id) FROM documents))
             |ORDER BY rule""".stripMargin)),

    // DATASET VERSION DIFF (round 10) — the audit a training-data
    // pipeline runs between corpus releases: which documents were
    // added / removed / changed / unchanged, by CONTENT digest, not by
    // row position. v2 here is a deterministic synthetic mutation of the
    // corpus (drop doc_id%17=0, revise text of %13=0, add %23=0 under
    // new ids) so the diff machine itself is oracle-checkable; in
    // production both sides are real snapshot paths. Scale: each side
    // reduces to a narrow (id, md5) projection at the scan — payloads
    // never shuffle — and the diff is ONE full-outer hash join on the id
    // followed by a 4-row status aggregate; 100 TB costs two content
    // scans + an id-width exchange.
    Op("pipeline_dataset_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldV = docs.select(col("doc_id"), md5(col("text")).as("h_old"))
      val newV = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
            .as("h_new"))
        .unionAll(docs.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(col("text")).as("h_new")))
      oldV.join(newV, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") === col("h_new"), "unchanged")
            .otherwise("changed"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("status")
    },
      Some("""WITH oldv AS (SELECT doc_id, md5(text) AS h_old FROM documents),
             | newv AS (
             |  SELECT doc_id,
             |   md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
             |     ELSE text END) AS h_new
             |  FROM documents WHERE doc_id % 17 <> 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, md5(text) FROM documents
             |  WHERE doc_id % 23 = 0),
             | d AS (SELECT COALESCE(oldv.doc_id, newv.doc_id) AS doc_id,
             |   CASE WHEN h_old IS NULL THEN 'added'
             |     WHEN h_new IS NULL THEN 'removed'
             |     WHEN h_old = h_new THEN 'unchanged'
             |     ELSE 'changed' END AS status
             |  FROM oldv FULL OUTER JOIN newv ON oldv.doc_id = newv.doc_id)
             |SELECT status, count(*) AS n_docs, min(doc_id) AS first_doc
             |FROM d GROUP BY status ORDER BY status""".stripMargin)),

    Op("pipeline_dedup_canonical", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = DedupOps.corpusLabelsFull(s, dir)
      val scored = docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("group_id"),
          TextOps.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("group_id").orderBy(desc("quality"), col("doc_id"))
      scored.withColumn("is_canonical", row_number().over(w) === 1)
        .select("doc_id", "group_id", "quality", "is_canonical")
        .orderBy("doc_id")
    },
      Some(s"""WITH ${DedupOps.clusterLabelsSql("documents")},
              | g AS (SELECT d.doc_id,
              |     COALESCE(l.cluster_id, d.doc_id) AS group_id,
              |     ${TextOps.qualitySql("d.text")} AS quality
              |   FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
              |SELECT doc_id, group_id, quality,
              | row_number() OVER (PARTITION BY group_id
              |   ORDER BY quality DESC, doc_id) = 1 AS is_canonical
              |FROM g ORDER BY doc_id""".stripMargin)),

    Op("pipeline_corpus_clean", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("n_chars") >= 100)
      val exact = docs.groupBy("text")
        .agg(min("doc_id").as("doc_id"), min("n_chars").as("n_chars"))
      val nonCanon = DedupOps.clusterLabels(docs)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      val kept = exact.join(nonCanon, Seq("doc_id"), "left_anti")
      kept.select(col("n_chars"), splitFold(col("doc_id")).as("fold"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("fold")
    },
      Some(s"""WITH docs AS (SELECT doc_id, text, n_chars FROM documents WHERE n_chars >= 100),
              | ${DedupOps.clusterLabelsSql("docs")},
              | noncanon AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
              | exact AS (SELECT min(doc_id) AS doc_id, min(n_chars) AS n_chars
              |   FROM docs GROUP BY text),
              | kept AS (SELECT * FROM exact
              |   WHERE doc_id NOT IN (SELECT doc_id FROM noncanon))
              |SELECT ${splitFoldSql("doc_id")} AS fold,
              | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              |FROM kept GROUP BY 1 ORDER BY fold""".stripMargin)),

    // TPC-H Q10 shape (returned items by customer): returnflag filter on
    // the fact scan, customer+nation broadcast, top-20 by lost revenue.
    Op("tpch_q10", (s, dir) => {
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      Some(s"""SELECT c_custkey, c_name, n_name,
              | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
              | count(*) AS n_items
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              | JOIN customer ON o_custkey = c_custkey
              | JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY c_custkey, c_name, n_name
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q5 shape (local supplier volume): the 6-table star join with
    // the extra customer-nation = supplier-nation equality. region/nation/
    // customer/supplier all broadcast; only orders⋈lineitem shuffles, and
    // it shuffles once on the order key.
    Op("tpch_q5", (s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val c = t(s, dir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_nationkey", "n_name")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      Some(s"""SELECT n_name,
              | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem
              | JOIN orders ON l_orderkey = o_orderkey
              | JOIN customer ON o_custkey = c_custkey
              | JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
              | JOIN nation ON c_nationkey = n_nationkey
              | JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              | AND o_orderdate >= TIMESTAMP '1996-01-01'
              | AND o_orderdate < TIMESTAMP '1997-01-01'
              |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q18 shape (large-volume orders): the self-aggregating HAVING
    // subquery decorrelates to one hash agg + semi join; customer
    // broadcasts, the quantity re-agg reuses the order-key partitioning.
    Op("tpch_q18", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(dsum(col("l_quantity")).as("tot_qty"))
        .filter(col("tot_qty") > 130)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("tot_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      Some(s"""WITH big AS (
              |  SELECT l_orderkey, ${dsumSql("l_quantity")} AS tot_qty
              |  FROM lineitem GROUP BY l_orderkey
              |  HAVING ${dsumSql("l_quantity")} > 130)
              |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, tot_qty
              |FROM big JOIN orders ON l_orderkey = o_orderkey
              | JOIN customer ON o_custkey = c_custkey
              |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // SCD-type-2 interval build: per-user event_type change-points become
    // [valid_from, valid_to) validity ranges with an is_current flag —
    // the standard CDC-history materialization. One window partition per
    // user (bounded rows), no second shuffle for the lead().
    Op("ts_scd2", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = graft.Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("valid_to", lead("ts", 1).over(w2))
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          col("valid_to"),
          col("valid_to").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             |   lag(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |     AS prev_type
             |  FROM events),
             | ch AS (SELECT * FROM ev WHERE prev_type IS NULL OR prev_type <> event_type)
             |SELECT user_id, event_type, ts AS valid_from,
             | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             | CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS INT)
             |   AS is_current
             |FROM ch ORDER BY user_id, valid_from""".stripMargin)),

    // POINT-IN-TIME join against the SCD2 dimension (ts_scd2's): every
    // event annotated with the status that was valid AT its timestamp —
    // the "what did we believe about this entity then" join behind every
    // leakage-free temporal feature. Implemented the scale-correct way:
    // NOT an interval join (fact × per-user-dim-rows intermediate blowup)
    // but one union + one user-keyed window — dim-change rows interleave
    // into the fact stream ordered by (ts, event_id, dim-first) and the
    // running last non-null status is by construction the valid row.
    // One exchange, zero row multiplication, at any history depth. The
    // ORACLE states the interval-join semantics directly (validity
    // boundaries at (ts, event_id) granularity) — passing pins that the
    // window form equals the declarative spec.
    Op("join_scd2_pointintime", (s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val dim = ev.withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("status"))
      val tagged = ev.select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("string").as("status"), lit(0).as("is_dim"))
        .unionByName(dim.withColumn("is_dim", lit(1)))
      val w2 = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"), col("is_dim").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("status_at", last(col("status"), ignoreNulls = true).over(w2))
        .withColumn("status_since",
          last(when(col("is_dim") === 1, col("ts")), ignoreNulls = true).over(w2))
        .filter(col("is_dim") === 0)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("status_at"), col("status_since"))
        .orderBy("event_id")
    },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             |   lag(event_type) OVER (PARTITION BY user_id
             |     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
             |  FROM events),
             | ch AS (SELECT * FROM ev WHERE prev_type IS NULL OR prev_type <> event_type),
             | dim AS (SELECT user_id, event_type AS status, ts AS valid_from,
             |    event_id AS from_eid,
             |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |    lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_eid
             |   FROM ch)
             |SELECT f.event_id, f.user_id, CAST(f.ts AS TIMESTAMP) AS ts,
             | d.status AS status_at, d.valid_from AS status_since
             |FROM events f JOIN dim d ON f.user_id = d.user_id
             | AND (CAST(f.ts AS TIMESTAMP) > d.valid_from
             |   OR (CAST(f.ts AS TIMESTAMP) = d.valid_from AND f.event_id >= d.from_eid))
             | AND (d.valid_to IS NULL OR CAST(f.ts AS TIMESTAMP) < d.valid_to
             |   OR (CAST(f.ts AS TIMESTAMP) = d.valid_to AND f.event_id < d.to_eid))
             |ORDER BY f.event_id""".stripMargin)),

    // Bitwise scalar surface: & | ^ << >> and popcount — the bit-packing
    // toolkit the SimHash/banding operators build on, exposed directly.
    Op("fn_bit_scalar", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey").bitwiseAND(lit(255L))).as("b_and"),
        (col("o_orderkey").bitwiseOR(lit(4096L))).as("b_or"),
        (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("b_xor"),
        shiftleft(col("o_orderkey"), 3).as("b_shl"),
        shiftright(col("o_orderkey"), 2).as("b_shr"),
        bit_count(col("o_orderkey")).as("b_pop"),
      ).orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             | o_orderkey & 255 AS b_and,
             | o_orderkey | 4096 AS b_or,
             | xor(o_orderkey, o_custkey) AS b_xor,
             | o_orderkey << 3 AS b_shl,
             | o_orderkey >> 2 AS b_shr,
             | CAST(bit_count(o_orderkey) AS INT) AS b_pop
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // TOKEN-BUDGET APPORTIONMENT (round 11) — allocate a fixed training
    // token budget across sources by Hamilton's largest-remainder
    // method, FULLY INTEGER-EXACT (the float-quota Neyman key's exact
    // sibling): base_i = (B·tok_i) div T, remainder seats to the
    // largest (B·tok_i) mod T with source-name tiebreak. The method
    // satisfies exact quota (base ≤ alloc ≤ base+1, Σalloc = B) — the
    // contract a reproducible data-mix spec needs. Corpus → one
    // per-source token agg; everything after runs on the |sources| grid
    // (the bounded seat-rank window of sample_stratified_neyman).
    Op("pipeline_token_budget_mix", (s, dir) => {
      val budget = 100000L
      val st = t(s, dir, "documents").groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("tok"))
      val tot = st.agg(sum("tok").as("tt"))
      val q = st.crossJoin(broadcast(tot))
        .select(col("source"), col("tok"),
          expr(s"($budget * tok) div tt").as("base"),
          expr(s"($budget * tok) % tt").as("rem"))
      val seats = q.agg((lit(budget) - sum("base")).as("n_seats"))
      val wR = Window.orderBy(col("rem").desc, col("source"))
      q.crossJoin(broadcast(seats))
        .withColumn("rk", row_number().over(wR))
        .select(col("source"), col("tok").as("n_tokens"), col("base"),
          (col("base") + when(col("rk") <= col("n_seats"), 1L)
            .otherwise(0L)).as("alloc"))
        .orderBy("source")
    },
      Some("""WITH st AS (SELECT source,
             |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
             |  FROM documents GROUP BY 1),
             | tot AS (SELECT CAST(sum(tok) AS BIGINT) AS tt FROM st),
             | q AS (SELECT source, tok,
             |   (100000 * tok) // (SELECT tt FROM tot) AS base,
             |   (100000 * tok) % (SELECT tt FROM tot) AS rem FROM st),
             | seats AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS n_seats
             |  FROM q),
             | r AS (SELECT source, tok, base, rem,
             |   row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
             |SELECT source, tok AS n_tokens, CAST(base AS BIGINT) AS base,
             | CAST(base + CASE WHEN rk <= (SELECT n_seats FROM seats)
             |   THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |FROM r ORDER BY source""".stripMargin)),

    // REJECTION SAMPLING / BEST-OF-GROUP SELECTION (round 11) — the
    // distillation-curation primitive: within each (source, lang)
    // candidate group keep only the HIGHEST-quality document, and only
    // if it clears the acceptance threshold (best-of-n with rejection —
    // the batch shape of RFT/distillation data selection). Argmax is
    // tie-deterministic via the two-phase max-then-min-id plan (exact
    // double equality against the group max — max SELECTS a value, it
    // never averages); both aggs are map-side combinable and the join
    // key is the group, so no corpus pair-join exists at any scale.
    Op("pipeline_rejection_sample", (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("lang"),
        col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
      val g = d.groupBy("source", "lang")
        .agg(max("quality").as("best_quality"),
          count(lit(1)).as("n_candidates"))
      d.join(g, Seq("source", "lang"))
        .filter(col("quality") === col("best_quality"))
        .groupBy(col("source"), col("lang"), col("best_quality"),
          col("n_candidates"))
        .agg(min("doc_id").as("best_doc"))
        .filter(col("best_quality") >= 0.5)
        .select(col("source"), col("lang"), col("best_doc"),
          col("best_quality"), col("n_candidates"))
        .orderBy("source", "lang")
    },
      Some(s"""WITH d AS (SELECT source, lang, doc_id,
              |   ${TextOps.qualitySql("text")} AS quality FROM documents),
              | g AS (SELECT source, lang, max(quality) AS best_quality,
              |   count(*) AS n_candidates FROM d GROUP BY 1, 2)
              |SELECT d.source, d.lang, min(d.doc_id) AS best_doc,
              | g.best_quality, g.n_candidates
              |FROM d JOIN g ON d.source = g.source AND d.lang = g.lang
              |  AND d.quality = g.best_quality
              |WHERE g.best_quality >= 0.5
              |GROUP BY d.source, d.lang, g.best_quality, g.n_candidates
              |ORDER BY d.source, d.lang""".stripMargin)),
  )

  /** Full-batch logistic-regression trainer: fixed-`iters` gradient
    * descent, one corpus pass per step — [[SimilarityOps.sphericalKmeans]]'s
    * determinism recipe applied to supervised learning. Each pass is ONE
    * two-phase hash aggregate computing the loss, the accuracy count and
    * every gradient component together; per-row double contributions
    * (sigmoid, softplus loss — the max(z,0) − z·y + log1p(e^−|z|) form,
    * overflow-free at any |z|) are cast to DECIMAL(28,12) before summing,
    * so the reduction is exact and partition-order-independent —
    * bit-deterministic under any repartitioning, like every trainer here.
    * The weight vector (|features|+1 doubles) is the only driver state.
    * At 100 TB each step is a map-side-combined agg over the feature
    * projection — no shuffle of the corpus, `iters` passes by contract
    * (cache the projected features, as the corpus key does).
    *
    * Returns `iters + 1` trace rows (iter, mean loss and accuracy
    * evaluated at the PRE-update weights, weights AFTER the update); the
    * final row is evaluation-only at the trained weights, so the loss
    * column is the full GD trajectory from w=0 (row 1 loss = ln 2) and
    * the last row carries the final model + its training metrics. */
  def logisticTrain(feats: org.apache.spark.sql.DataFrame, xCols: Seq[String],
      yCol: String, iters: Int, lr: Double): Seq[(Long, Double, Double, Seq[Double])] = {
    require(iters >= 1, "at least one gradient step")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    var w = Array.fill(xCols.length + 1)(0.0)
    val trace = Seq.newBuilder[(Long, Double, Double, Seq[Double])]
    val y = col(yCol)
    for (k <- 1 to iters + 1) {
      val z = xCols.zipWithIndex.foldLeft(lit(w(0)): org.apache.spark.sql.Column) {
        case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c)
      }
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val lossRow = greatest(z, lit(0.0)) - z * y + log1p(exp(-abs(z)))
      val aggs = Seq(
        sum(lossRow.cast(dec)).as("loss_sum"),
        sum(when((z >= lit(0.0)) === (y === lit(1.0)), 1L).otherwise(0L)).as("n_ok"),
        count(lit(1)).as("n"),
        sum((p - y).cast(dec)).as("g0")) ++
        xCols.zipWithIndex.map { case (c, j) =>
          sum(((p - y) * col(c)).cast(dec)).as(s"g${j + 1}")
        }
      val r = feats.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getAs[Long]("n").toDouble
      val loss = r.getAs[java.math.BigDecimal]("loss_sum").doubleValue() / n
      val acc = r.getAs[Long]("n_ok") / n
      if (k <= iters)
        w = w.indices.map(j =>
          w(j) - lr * r.getAs[java.math.BigDecimal](s"g$j").doubleValue() / n).toArray
      trace += ((k.toLong, loss, acc, w.toSeq))
    }
    trace.result()
  }
}
