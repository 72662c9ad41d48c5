package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Experimentation-platform statistics, wave 2 (round 11 continuation) —
  * the readouts that turn the per-test layer (t / Mann–Whitney / ANOVA /
  * OBF looks) into a platform:
  *  - "are these metrics RELATED": `agg_spearman_corr`;
  *  - "is the difference real WITHOUT distributional assumptions":
  *    `agg_permutation_test` (the engine's first EXACT cross-engine
  *    p-values — permutation counts are rationals);
  *  - "which of many metrics survive multiplicity": `agg_bh_fdr`;
  *  - "when may we stop": `agg_sprt_sequential` (always-valid, beside
  *    the OBF looks);
  *  - "was it causal when randomization was imperfect":
  *    `agg_diff_in_diff`, `agg_cmh_test` (stratified), and the
  *    within-subject `agg_paired_ttest`;
  *  - "does X PREDICT Y": `ts_granger_causality`;
  *  - engagement/concentration health: `ts_dau_mau_stickiness`,
  *    `agg_gini_concentration`.
  *
  * Shared determinism contract (the AnalyticsExt house rules):
  *  - every corpus-sized sum runs on an exact integer/DECIMAL lattice
  *    (value micro-units via the agg_levene_bf cast), so no float
  *    accumulation order can differ across engines/partitionings;
  *  - integer sums above 2^53 are released to double via the 2^32 hi/lo
  *    split ([[exactDbl]]) — bit-identical in Spark and DuckDB up to
  *    2^85 (≈3.9e25; the moments here reach ~4e16 at sf0.1 — a third
  *    split level is the mechanical extension past ~5e7 users/type);
  *  - randomization is salted md5 (the srm42/boot idiom), identical hex
  *    in both engines;
  *  - transcendental CONSTANTS (the SPRT log-likelihood ratios) are
  *    computed once in the JVM and interpolated as shortest-decimal
  *    literals into both the Spark plan and the oracle SQL (the
  *    mmrOracle round-10 fix rule), so both engines multiply exact
  *    integer counts by the same 64 bits.
  */
object StatsExt {

  /** Exact DECIMAL(38,0) → double release via a 2^32 hi/lo split (the
    * agg_levene_bf rule): hi ≤ 2^53 and lo < 2^32 convert exactly,
    * hi·2^32 is a pure exponent shift, and the one add is correctly
    * rounded — bit-identical cross-engine even when the raw value
    * exceeds 2^53. Caller must pass a NON-NEGATIVE column (integral
    * `div` truncates toward zero on negatives in Spark but floors in
    * DuckDB — release |x| and reapply the sign). Shared with
    * GraphOps.assortativity (package-private). */
  private[operators] def exactDbl(name: String): Column =
    expr(s"$name div 4294967296").cast("double") * lit(4294967296.0) +
      (col(name) - expr(s"$name div 4294967296").cast("decimal(38,0)") *
        lit(4294967296L)).cast("double")

  /** Oracle-side twin of [[exactDbl]] on a DuckDB HUGEINT expression. */
  private[operators] def exactDblSql(x: String): String =
    s"(CAST(($x) // 4294967296 AS DOUBLE) * 4294967296.0" +
      s" + CAST(($x) % 4294967296 AS DOUBLE))"

  /** Per-(event_type, v) doubled average rank r2 = 2·avgrank over the
    * users carrying each distinct v — the tie-correct rank substrate of
    * Spearman, kept on the integer lattice (avgrank is a half-integer;
    * ×2 makes it exact: ranks cum−cnt+1 … cum average to
    * cum − (cnt−1)/2, so r2 = 2·cum − cnt + 1).
    *
    * TWO-LEVEL cumsum (the denseTypeValueCum machine): the value domain
    * here is per-user aggregates — user-sized, i.e. corpus-tracking at
    * 100 TB — so a per-type cumsum window would re-create the |types|-
    * task parallelism floor the round-11 bucketed machines exist to
    * kill. Same three steps: equi-width buckets over the domain
    * (monotone coarsening — bit-identical sums), per-(type, bucket)
    * totals cumsum'd over the tiny grid, within-bucket cumsum + offset. */
  private def avgRank2(perUser: DataFrame, vcol: String): DataFrame = {
    val vc = perUser.groupBy(col("event_type"), col(vcol))
      .agg(count(lit(1)).as("cnt"))
    val b = ScalableWindows.withBuckets(vc, vcol,
      AnalyticsExt.RankTestBuckets)
    val wB = Window.partitionBy("event_type").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = b.groupBy("event_type", "__bkt").agg(sum("cnt").as("bcnt"))
      .withColumn("boff", sum("bcnt").over(wB) - col("bcnt"))
      .select("event_type", "__bkt", "boff")
    val wIn = Window.partitionBy(col("event_type"), col("__bkt"))
      .orderBy(col(vcol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(off), Seq("event_type", "__bkt"))
      .withColumn("cum", sum("cnt").over(wIn) + col("boff"))
      .select(col("event_type"), col(vcol),
        (col("cum") * 2 - col("cnt") + 1).as("r2"))
  }

  /** Permutation-test replicate count. p-values are exact rationals
    * k/(Reps+1) — the whole reason this machine can be hash-verified
    * against DuckDB when the t/z keys can only release statistics. */
  val PermReps: Int = 199

  /** Per-user micro-lattice event-value total (optionally per type):
    * the metric both permutation keys randomize. One corpus pass. */
  private def userTotals(s: SparkSession, dir: String,
      byType: Boolean): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * 1000000)
      .cast("long")
    val keys: Seq[Column] =
      if (byType) Seq(col("user_id"), col("event_type"))
      else Seq(col("user_id"))
    events(s, dir).groupBy(keys: _*)
      .agg(sum(micro).as("y"), count(lit(1)).as("ne"))
  }

  /** users × (Reps+1) salted arm bits + the per-(r[, type]) moment
    * cells. Salt "perm42:<r>:<user>" — r = 0 is the OBSERVED split
    * (same md5-parity convention as the srm42 arm keys); r ≥ 1 are the
    * label permutations. The explode is map-side combinable: the only
    * shuffle is the ≤(Reps+1)·|types|·2-cell aggregate. */
  private def permCells(u: DataFrame, byType: Boolean): DataFrame = {
    val armed = u.select(
        (if (byType) Seq(col("user_id"), col("event_type"), col("y"))
         else Seq(col("user_id"), col("y"))) :+
          explode(sequence(lit(0), lit(PermReps))).as("r"): _*)
      .withColumn("arm",
        substring(md5(concat(lit("perm42:"), col("r").cast("string"),
          lit(":"), col("user_id").cast("string"))), 1, 1) < "8")
    val gk: Seq[Column] =
      if (byType) Seq(col("event_type"), col("r")) else Seq(col("r"))
    armed.groupBy(gk: _*)
      .agg(
        sum(when(col("arm"), 1L).otherwise(0L)).cast("decimal(38,0)")
          .as("na"),
        sum(when(col("arm"), col("y")).otherwise(0L)
          .cast("decimal(28,0)")).as("sa"),
        sum(when(!col("arm"), 1L).otherwise(0L)).cast("decimal(38,0)")
          .as("nb"),
        sum(when(!col("arm"), col("y")).otherwise(0L)
          .cast("decimal(28,0)")).as("sb"))
      .withColumn("num",
        (col("sa") * col("nb") - col("sb") * col("na"))
          .cast("decimal(38,0)"))
      .withColumn("den", (col("na") * col("nb")).cast("decimal(38,0)"))
  }

  /** Oracle twin of [[permCells]]: user totals ux(user_id, y[, type])
    * must already be defined by the caller's WITH prefix. */
  private def permCellsSql(byType: Boolean): String = {
    val tcol = if (byType) "event_type, " else ""
    s"""cells AS (SELECT ${tcol}r,
       |   CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS HUGEINT) AS na,
       |   CAST(sum(CASE WHEN arm THEN y ELSE 0 END) AS HUGEINT) AS sa,
       |   CAST(sum(CASE WHEN arm THEN 0 ELSE 1 END) AS HUGEINT) AS nb,
       |   CAST(sum(CASE WHEN arm THEN 0 ELSE y END) AS HUGEINT) AS sb
       |  FROM (SELECT u.*, r.r,
       |     substring(md5('perm42:' || CAST(r.r AS VARCHAR) || ':' ||
       |       CAST(u.user_id AS VARCHAR)), 1, 1) < '8' AS arm
       |   FROM ux u CROSS JOIN (SELECT unnest(generate_series(0,
       |     $PermReps)) AS r) r)
       |  GROUP BY ALL),
       | nd AS (SELECT *, sa * nb - sb * na AS num, na * nb AS den
       |  FROM cells)""".stripMargin
  }

  // ----- SPRT constants: computed ONCE here, interpolated into both
  // engines as shortest-decimal literals (the mmrOracle rule). H0: the
  // purchase share is p0; H1: it is p1 (bracketing the corpus's ~20%
  // so the LLR genuinely wanders); α = β = 0.05.
  private val SprtP0 = 0.18
  private val SprtP1 = 0.22
  private val SprtC1 = math.log(SprtP1 / SprtP0) // per-success increment
  private val SprtC2 = math.log((1.0 - SprtP1) / (1.0 - SprtP0)) // per-failure
  private val SprtA = math.log((1.0 - 0.05) / 0.05) // accept-H1 boundary
  private val SprtB = math.log(0.05 / (1.0 - 0.05)) // accept-H0 boundary

  val ops: Seq[Op] = Seq(
    // SPEARMAN RANK CORRELATION between a user's activity volume
    // (events of a type) and their value total for that type — the
    // monotone-association readout Pearson (agg_corr_matrix) cannot
    // give when either margin is heavy-tailed. Tie-correct: Pearson on
    // 2×-average-ranks (exact integers; the ×2 cancels in the ratio).
    // The corpus is touched once (per-(user, type) agg); both rank
    // layers run on the per-type value DOMAINS through the two-level
    // bucketed cumsum, so no task ever carries a user-sized sequence;
    // the moment sums are exact DECIMALs released through the 2^32
    // hi/lo split.
    Op("agg_spearman_corr", (s, dir) => {
      // checkpointed leaf: the per-user frame feeds BOTH rank layers
      // and the final join — uncached, the corpus agg would run 3×
      val u = userTotals(s, dir, byType = true)
        .select(col("event_type"), col("user_id"),
          col("ne").as("x"), col("y"))
        .localCheckpoint()
      val rx = avgRank2(u.select("event_type", "x"), "x")
        .withColumnRenamed("r2", "r2x")
      val ry = avgRank2(u.select("event_type", "y"), "y")
        .withColumnRenamed("r2", "r2y")
      def d14(c: Column) = c.cast("decimal(14,0)")
      val m = u.join(rx, Seq("event_type", "x"))
        .join(ry, Seq("event_type", "y"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(d14(col("r2x"))).as("sx"),
          sum(d14(col("r2y"))).as("sy"),
          sum(d14(col("r2x")) * d14(col("r2x"))).as("sxx"),
          sum(d14(col("r2y")) * d14(col("r2y"))).as("syy"),
          sum(d14(col("r2x")) * d14(col("r2y"))).as("sxy"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val t = m.select(col("event_type"), col("n"),
        (d38(col("n")) * col("sxy") - d38(col("sx")) * col("sy"))
          .cast("decimal(38,0)").as("rnum"),
        (d38(col("n")) * col("sxx") - d38(col("sx")) * col("sx"))
          .cast("decimal(38,0)").as("vx"),
        (d38(col("n")) * col("syy") - d38(col("sy")) * col("sy"))
          .cast("decimal(38,0)").as("vy"))
        .withColumn("anum", abs(col("rnum")).cast("decimal(38,0)"))
      t.select(col("event_type"), col("n").as("n_users"),
          when(col("vx") === 0 || col("vy") === 0, lit(null))
            .otherwise(round(
              when(col("rnum") < 0, -1.0).otherwise(1.0) *
                exactDbl("anum") /
                sqrt(exactDbl("vx") * exactDbl("vy")), 6))
            .as("rho"))
        .orderBy("event_type")
    },
      Some(s"""WITH u AS (SELECT event_type, user_id, count(*) AS x,
              |   sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
              |     AS y
              |  FROM events GROUP BY 1, 2),
              | xc AS (SELECT event_type, x, count(*) AS cnt FROM u
              |  GROUP BY 1, 2),
              | rx AS (SELECT event_type, x, 2 * sum(cnt) OVER
              |   (PARTITION BY event_type ORDER BY x) - cnt + 1 AS r2x
              |  FROM xc),
              | yc AS (SELECT event_type, y, count(*) AS cnt FROM u
              |  GROUP BY 1, 2),
              | ry AS (SELECT event_type, y, 2 * sum(cnt) OVER
              |   (PARTITION BY event_type ORDER BY y) - cnt + 1 AS r2y
              |  FROM yc),
              | j AS (SELECT u.event_type, r2x, r2y FROM u
              |  JOIN rx USING (event_type, x) JOIN ry USING (event_type, y)),
              | m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
              |   sum(CAST(r2x AS HUGEINT)) AS sx,
              |   sum(CAST(r2y AS HUGEINT)) AS sy,
              |   sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
              |   sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
              |   sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
              |  FROM j GROUP BY 1),
              | t AS (SELECT event_type, n, n * sxy - sx * sy AS rnum,
              |   n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy FROM m)
              |SELECT event_type, CAST(n AS BIGINT) AS n_users,
              | CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
              |  round((CASE WHEN rnum < 0 THEN -1.0 ELSE 1.0 END) *
              |   ${exactDblSql("abs(rnum)")} /
              |   sqrt(${exactDblSql("vx")} * ${exactDblSql("vy")}), 6)
              | END AS rho
              |FROM t ORDER BY event_type""".stripMargin)),

    // PERMUTATION TEST (Fisher randomization; Phipson–Smyth +1
    // correction) on the arm difference of per-user value totals — the
    // assumption-free p-value the t/z keys cannot release (their CDFs
    // aren't computable cross-engine; a permutation p is an exact
    // integer COUNT over re-labelings, so it hash-verifies). r = 0 is
    // the observed srm42-style md5 split; r = 1..199 relabel whole
    // USERS (the correct exchangeability unit — event-level shuffling
    // would break within-user correlation). Exactness: |Δ_r| ≥ |Δ_obs|
    // compares cross-multiplied DECIMAL(38,0) integers — no division
    // ever happens, so ties count identically in both engines. The
    // 200× user expansion is projection-only and map-side-combines to
    // 400 cells; the corpus is touched once.
    Op("agg_permutation_test", (s, dir) => {
      val u = userTotals(s, dir, byType = false)
      val nd = permCells(u, byType = false)
      val obs = nd.filter(col("r") === 0).select(
        col("num").as("onum"), col("den").as("oden"),
        (col("na") + col("nb")).cast("long").as("n_users"))
      val ext = nd.filter(col("r") > 0).crossJoin(broadcast(obs))
        .select(col("n_users"), col("onum"), col("oden"),
          when(abs(col("num")) * col("oden") >=
            abs(col("onum")) * col("den"), 1L).otherwise(0L).as("e"))
        .groupBy("n_users", "onum", "oden")
        .agg(sum(col("e")).as("n_extreme"))
        .withColumn("aonum", abs(col("onum")).cast("decimal(38,0)"))
      ext.select(col("n_users"), lit(PermReps).as("n_reps"),
        round(when(col("onum") < 0, -1.0).otherwise(1.0) *
          exactDbl("aonum") /
          (col("oden").cast("double") * lit(1000000.0)), 6)
          .as("obs_diff"),
        col("n_extreme"),
        ((col("n_extreme") + 1).cast("double") / lit(PermReps + 1.0))
          .as("p_value"))
    },
      Some(s"""WITH ux AS (SELECT user_id,
              |   sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
              |     AS y
              |  FROM events GROUP BY 1),
              | ${permCellsSql(byType = false)},
              | o AS (SELECT num AS onum, den AS oden,
              |   CAST(na + nb AS BIGINT) AS n_users FROM nd WHERE r = 0),
              | e AS (SELECT n_users, onum, oden,
              |   CAST(sum(CASE WHEN abs(num) * oden >= abs(onum) * den
              |     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
              |  FROM nd CROSS JOIN o WHERE r > 0 GROUP BY 1, 2, 3)
              |SELECT n_users, $PermReps AS n_reps,
              | round((CASE WHEN onum < 0 THEN -1.0 ELSE 1.0 END) *
              |   ${exactDblSql("abs(onum)")} /
              |   (CAST(oden AS DOUBLE) * 1000000.0), 6) AS obs_diff,
              | n_extreme,
              | CAST(n_extreme + 1 AS DOUBLE) / ${PermReps + 1}.0 AS p_value
              |FROM e""".stripMargin)),

    // BENJAMINI–HOCHBERG FDR CONTROL over the per-metric permutation
    // p-values — the multiple-testing layer every experiment scan
    // needs (test 5 metrics at α=0.05 and ~1 false positive is FREE).
    // Metrics = the per-type user value totals; arms = the SAME
    // perm42 user split as agg_permutation_test (one experiment, many
    // metrics — the real BH shape). Every p is an exact k/200
    // rational, the BH step-up condition m·(k_i+1) ≤ 20·i is pure
    // integer arithmetic (q = 0.10), and the adjusted p's suffix-min
    // runs over tiny exactly-representable doubles — all on a ≤|types|-
    // row frame (the bounded-window allowlist class). Corpus cost: one
    // (user, type) agg + the 200× projection explode.
    Op("agg_bh_fdr", (s, dir) => {
      val u = userTotals(s, dir, byType = true)
      val nd = permCells(u, byType = true)
      val obs = nd.filter(col("r") === 0)
        .select(col("event_type"), col("num").as("onum"),
          col("den").as("oden"))
      val k = nd.filter(col("r") > 0)
        .join(broadcast(obs), "event_type")
        .select(col("event_type"),
          when(abs(col("num")) * col("oden") >=
            abs(col("onum")) * col("den"), 1L).otherwise(0L).as("e"))
        .groupBy("event_type").agg(sum("e").as("k"))
      // ≤|types|-row BH frame: rank by the integer k (⇔ by p, exact),
      // step-up imax, suffix-min adjusted p.
      val wI = Window.orderBy(col("k"), col("event_type"))
      val wAll = Window.partitionBy(Seq.empty[Column]: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wSuf = Window.orderBy(col("i"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val ranked = k.withColumn("i", row_number().over(wI).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("cand",
          when(col("m") * (col("k") + 1) <= lit(20L) * col("i"),
            col("i")))
        .withColumn("imax", max(col("cand")).over(wAll))
        .withColumn("padj_raw",
          min((col("m") * (col("k") + 1)).cast("double") /
            (lit(PermReps + 1.0) * col("i").cast("double"))).over(wSuf))
      ranked.select(col("event_type"),
          col("k").as("n_extreme"),
          ((col("k") + 1).cast("double") / lit(PermReps + 1.0))
            .as("p_raw"),
          least(lit(1.0), col("padj_raw")).as("p_adj"),
          (col("imax").isNotNull && col("i") <= col("imax"))
            .as("rejected"))
        .orderBy("event_type")
    },
      Some(s"""WITH ux AS (SELECT user_id, event_type,
              |   sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
              |     AS y
              |  FROM events GROUP BY 1, 2),
              | ${permCellsSql(byType = true)},
              | o AS (SELECT event_type, num AS onum, den AS oden FROM nd
              |  WHERE r = 0),
              | kk AS (SELECT nd.event_type,
              |   CAST(sum(CASE WHEN abs(num) * oden >= abs(onum) * den
              |     THEN 1 ELSE 0 END) AS BIGINT) AS k
              |  FROM nd JOIN o USING (event_type) WHERE r > 0 GROUP BY 1),
              | ranked AS (SELECT event_type, k,
              |   CAST(row_number() OVER (ORDER BY k, event_type) AS BIGINT)
              |     AS i,
              |   CAST(count(*) OVER () AS BIGINT) AS m
              |  FROM kk),
              | step AS (SELECT *,
              |   max(CASE WHEN m * (k + 1) <= 20 * i THEN i END) OVER ()
              |     AS imax,
              |   min(CAST(m * (k + 1) AS DOUBLE)
              |     / (${PermReps + 1}.0 * CAST(i AS DOUBLE))) OVER
              |     (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED
              |      FOLLOWING) AS padj_raw
              |  FROM ranked)
              |SELECT event_type, k AS n_extreme,
              | CAST(k + 1 AS DOUBLE) / ${PermReps + 1}.0 AS p_raw,
              | least(1.0, padj_raw) AS p_adj,
              | (imax IS NOT NULL AND i <= imax) AS rejected
              |FROM step ORDER BY event_type""".stripMargin)),

    // DIFFERENCE-IN-DIFFERENCES (round 11) — the quasi-experimental
    // readout for when randomization was imperfect or the treatment
    // landed at a date boundary: compare the treated arm's pre→post
    // change against the control arm's (parallel-trends assumption
    // carries the causal claim). Cells: srm42 md5 arm × the CUPED
    // absolute-day period split (day ≤ 15 = pre). One corpus agg with
    // 12 conditional exact-DECIMAL moments → a single 1-row IEEE tree
    // for the DiD estimate, its pooled SE (Σ s²_cell/n_cell), and t.
    // No windows, no joins — the minimal possible plan shape.
    Op("agg_diff_in_diff", (s, dir) => {
      val ev = events(s, dir).select(col("value"),
        ((datediff(to_date(col("ts")), lit("2024-01-01")) + 1) <= 15)
          .as("pre"),
        AnalyticsExt.srmArmA.as("treat"))
      def cells(p: Column, nm: String) = Seq(
        sum(when(p, 1L).otherwise(0L)).cast("double").as(s"n$nm"),
        dsum6(when(p, col("value")).otherwise(lit(0.0))).as(s"sx$nm"),
        dsum6(when(p, col("value") * col("value")).otherwise(lit(0.0)))
          .as(s"sxx$nm"))
      val aggs = cells(col("treat") && col("pre"), "tr") ++
        cells(col("treat") && !col("pre"), "tp") ++
        cells(!col("treat") && col("pre"), "cr") ++
        cells(!col("treat") && !col("pre"), "cp")
      val g = ev.agg(aggs.head, aggs.tail: _*)
      def m(nm: String) = col(s"sx$nm") / col(s"n$nm")
      def vr(nm: String) =
        (col(s"sxx$nm") - col(s"sx$nm") * col(s"sx$nm") / col(s"n$nm")) /
          (col(s"n$nm") - lit(1.0))
      val did = (m("tp") - m("tr")) - (m("cp") - m("cr"))
      val se = sqrt(vr("tp") / col("ntp") + vr("tr") / col("ntr")
        + vr("cp") / col("ncp") + vr("cr") / col("ncr"))
      g.select(
        col("ntr").cast("long").as("n_t_pre"),
        col("ntp").cast("long").as("n_t_post"),
        col("ncr").cast("long").as("n_c_pre"),
        col("ncp").cast("long").as("n_c_post"),
        round(did, 6).as("did_estimate"),
        round(se, 6).as("se"),
        round(did / se, 6).as("t_stat"))
    },
      Some(s"""WITH ev AS (SELECT value,
             |   (CAST(ts AS DATE) - DATE '2024-01-01' + 1) <= 15 AS pre,
             |   ${AnalyticsExt.srmArmASql}
             |     AS treat
             |  FROM events),
             | g AS (SELECT
             |   CAST(sum(CASE WHEN treat AND pre THEN 1 ELSE 0 END)
             |     AS DOUBLE) AS ntr,
             |   CAST(sum(CAST(CASE WHEN treat AND pre THEN value ELSE 0 END
             |     AS DECIMAL(18,6))) AS DOUBLE) AS sxtr,
             |   CAST(sum(CAST(CASE WHEN treat AND pre THEN value * value
             |     ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxxtr,
             |   CAST(sum(CASE WHEN treat AND NOT pre THEN 1 ELSE 0 END)
             |     AS DOUBLE) AS ntp,
             |   CAST(sum(CAST(CASE WHEN treat AND NOT pre THEN value
             |     ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxtp,
             |   CAST(sum(CAST(CASE WHEN treat AND NOT pre THEN value * value
             |     ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxxtp,
             |   CAST(sum(CASE WHEN NOT treat AND pre THEN 1 ELSE 0 END)
             |     AS DOUBLE) AS ncr,
             |   CAST(sum(CAST(CASE WHEN NOT treat AND pre THEN value
             |     ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxcr,
             |   CAST(sum(CAST(CASE WHEN NOT treat AND pre THEN value * value
             |     ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxxcr,
             |   CAST(sum(CASE WHEN NOT treat AND NOT pre THEN 1 ELSE 0 END)
             |     AS DOUBLE) AS ncp,
             |   CAST(sum(CAST(CASE WHEN NOT treat AND NOT pre THEN value
             |     ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE) AS sxcp,
             |   CAST(sum(CAST(CASE WHEN NOT treat AND NOT pre THEN
             |     value * value ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             |     AS sxxcp
             |  FROM ev),
             | f AS (SELECT *,
             |   (sxtp / ntp - sxtr / ntr) - (sxcp / ncp - sxcr / ncr) AS did,
             |   sqrt((sxxtp - sxtp * sxtp / ntp) / (ntp - 1.0) / ntp
             |     + (sxxtr - sxtr * sxtr / ntr) / (ntr - 1.0) / ntr
             |     + (sxxcp - sxcp * sxcp / ncp) / (ncp - 1.0) / ncp
             |     + (sxxcr - sxcr * sxcr / ncr) / (ncr - 1.0) / ncr) AS se
             |  FROM g)
             |SELECT CAST(ntr AS BIGINT) AS n_t_pre,
             | CAST(ntp AS BIGINT) AS n_t_post,
             | CAST(ncr AS BIGINT) AS n_c_pre,
             | CAST(ncp AS BIGINT) AS n_c_post,
             | round(did, 6) AS did_estimate, round(se, 6) AS se,
             | round(did / se, 6) AS t_stat
             |FROM f""".stripMargin)),

    // COCHRAN–MANTEL–HAENSZEL TEST (round 11) — the stratified 2×2
    // association test: "does arm A convert better than arm B AFTER
    // controlling for day-of-week?" — the confounder-adjusted answer a
    // raw pooled 2×2 gets wrong whenever traffic mix shifts across
    // strata (Simpson's pair, beside agg_chisq_independence's
    // unstratified reading). K = 7 dow strata, success = purchase,
    // arms = the srm42 md5 split. Exact integer cells (a, n1, m1, n)
    // from ONE corpus agg; per-stratum E, V, and the MH odds-ratio
    // terms are each a single IEEE tree over those integers; the
    // cross-stratum sums ride the DECIMAL(28,12) lattice (the ANOVA /
    // Kruskal–Wallis rule — the only place engine-ordered float
    // addition could sneak in); continuity-corrected χ² released at
    // 6 dp.
    Op("agg_cmh_test", (s, dir) => {
      val dec = "decimal(28,12)"
      val ev = events(s, dir).select(
        dayofweek(col("ts")).as("dow"),
        (col("event_type") === "purchase").as("succ"),
        AnalyticsExt.srmArmA.as("arma"))
      val cellsK = ev.groupBy("dow").agg(
        count(lit(1)).as("n"),
        sum(when(col("arma"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("succ"), 1L).otherwise(0L)).as("m1"),
        sum(when(col("arma") && col("succ"), 1L).otherwise(0L)).as("a"))
      val nD = col("n").cast("double")
      val e = col("n1").cast("double") * col("m1") / nD
      val v = col("n1").cast("double") * (col("n") - col("n1")) *
        col("m1") * (col("n") - col("m1")) /
        (nD * nD * (nD - lit(1.0)))
      val bC = col("n1") - col("a") // arm A failures
      val cC = col("m1") - col("a") // arm B successes
      val dC = col("n") - col("n1") - col("m1") + col("a") // arm B failures
      val g = cellsK.agg(
        count(lit(1)).as("k_strata"),
        sum(col("a")).as("a_total"),
        sum((col("a").cast("double") - e).cast(dec)).cast("double")
          .as("sae"),
        sum(v.cast(dec)).cast("double").as("sv"),
        sum(((col("a") * dC).cast("double") / nD).cast(dec))
          .cast("double").as("orn"),
        sum(((bC * cC).cast("double") / nD).cast(dec))
          .cast("double").as("ord"))
      g.select(col("k_strata"), col("a_total"),
        round(col("orn") / col("ord"), 6).as("or_mh"),
        round((abs(col("sae")) - lit(0.5)) * (abs(col("sae")) - lit(0.5))
          / col("sv"), 6).as("chi2_cmh"))
    },
      Some(s"""WITH ev AS (SELECT
             |   CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
             |   event_type = 'purchase' AS succ,
             |   ${AnalyticsExt.srmArmASql}
             |     AS arma
             |  FROM events),
             | cells AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
             |   CAST(sum(CASE WHEN arma THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |   CAST(sum(CASE WHEN succ THEN 1 ELSE 0 END) AS BIGINT) AS m1,
             |   CAST(sum(CASE WHEN arma AND succ THEN 1 ELSE 0 END)
             |     AS BIGINT) AS a
             |  FROM ev GROUP BY 1),
             | g AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
             |   CAST(sum(a) AS BIGINT) AS a_total,
             |   CAST(sum(CAST(CAST(a AS DOUBLE)
             |     - CAST(n1 AS DOUBLE) * m1 / CAST(n AS DOUBLE)
             |     AS DECIMAL(28,12))) AS DOUBLE) AS sae,
             |   CAST(sum(CAST(CAST(n1 AS DOUBLE) * (n - n1) * m1 * (n - m1)
             |     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |       * (CAST(n AS DOUBLE) - 1.0))
             |     AS DECIMAL(28,12))) AS DOUBLE) AS sv,
             |   CAST(sum(CAST(CAST(a * (n - n1 - m1 + a) AS DOUBLE)
             |     / CAST(n AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS orn,
             |   CAST(sum(CAST(CAST((n1 - a) * (m1 - a) AS DOUBLE)
             |     / CAST(n AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS ord
             |  FROM cells)
             |SELECT k_strata, a_total, round(orn / ord, 6) AS or_mh,
             | round((abs(sae) - 0.5) * (abs(sae) - 0.5) / sv, 6) AS chi2_cmh
             |FROM g""".stripMargin)),

    // DAU/MAU STICKINESS (round 11) — the engagement ratio every
    // product review tracks: daily actives over trailing-30-day
    // actives, per day. The exact form: one (user, day) dedup pass,
    // then the trailing-window distinct via a bounded-broadcast theta
    // join (the |days| grid is calendar-bounded, so the ≤30×
    // user-day expansion feeds a two-phase distinct agg — linear, no
    // per-day rescan of events). The 100 TB relief valve when the 30×
    // expansion bites is the ts_active_users_hll pattern (mergeable
    // daily sketches, union over the trailing frame) — this key is
    // the exact anchor.
    Op("ts_dau_mau_stickiness", (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
        .localCheckpoint() // feeds dau, the day grid, and the range join
      val days = ud.select("day").distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val mau = ud.withColumnRenamed("day", "uday")
        .join(broadcast(days), col("uday") <= col("day") &&
          col("uday") > col("day") - expr("INTERVAL 30 DAYS"))
        .groupBy("day").agg(countDistinct("user_id").as("mau"))
      dau.join(mau, "day")
        .select(col("day"), col("dau"), col("mau"),
          round(col("dau").cast("double") / col("mau").cast("double"),
            6).as("stickiness"))
        .orderBy("day")
    },
      Some("""WITH ud AS (SELECT DISTINCT user_id,
             |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
             | days AS (SELECT DISTINCT day FROM ud),
             | dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud
             |  GROUP BY 1),
             | mau AS (SELECT d.day,
             |   CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
             |  FROM days d JOIN ud u ON u.day <= d.day
             |   AND u.day > d.day - INTERVAL 30 DAY
             |  GROUP BY 1)
             |SELECT day, dau, mau,
             | round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6)
             |   AS stickiness
             |FROM dau JOIN mau USING (day) ORDER BY day""".stripMargin)),

    // GINI / WHALE-CONCENTRATION READOUT (round 11) — how concentrated
    // is value across users? (The same machine reads source
    // concentration in a corpus.) Gini from the rank identity
    // G = (2·Σ rn·y − (n+1)·Σy) / (n·Σy) over users ranked ascending
    // by total value, plus the top-1% / top-10% shares every
    // concentration review wants beside it. TIE-SAFE by algebra: tied
    // y's contribute y·Σrn over the tie run, which is invariant to the
    // tiebreak. The user-sized ranking runs through
    // ScalableWindows.bucketedRowNumber (the §8.9 two-level machine) —
    // no corpus-sized single-task sort; all moments exact
    // DECIMAL(38,0), hi/lo releases.
    Op("agg_gini_concentration", (s, dir) => {
      val u = userTotals(s, dir, byType = false)
        .select(col("user_id"), col("y"))
        .localCheckpoint() // feeds the bucket bounds, the rank frame, and nn
      val rn = ScalableWindows.bucketedRowNumber(u, Seq.empty, "y",
        Seq(col("y"), col("user_id")))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val nn1 = u.agg(count(lit(1)).as("nn"))
      val g = rn.crossJoin(broadcast(nn1)).agg(
        count(lit(1)).as("n"),
        sum(d38(col("y"))).as("sy"),
        sum((d38(col("rn")) * col("y")).cast("decimal(38,0)"))
          .as("sry"),
        sum(when(col("rn") > col("nn") - expr("nn div 100"),
          d38(col("y"))).otherwise(d38(lit(0)))).as("y1"),
        sum(when(col("rn") > col("nn") - expr("nn div 10"),
          d38(col("y"))).otherwise(d38(lit(0)))).as("y10"))
      val j = g.select(col("n"),
        (d38(lit(2)) * col("sry") - d38(col("n") + 1) * col("sy"))
          .cast("decimal(38,0)").as("gnum"),
        (d38(col("n")) * col("sy")).cast("decimal(38,0)").as("gden"),
        col("sy").cast("decimal(38,0)").as("syd"),
        col("y1").cast("decimal(38,0)").as("y1"),
        col("y10").cast("decimal(38,0)").as("y10"))
      j.select(col("n").as("n_users"),
        round(exactDbl("gnum") / exactDbl("gden"), 6).as("gini"),
        round(exactDbl("y1") / exactDbl("syd"), 6).as("top1pct_share"),
        round(exactDbl("y10") / exactDbl("syd"), 6).as("top10pct_share"))
    },
      Some(s"""WITH u AS (SELECT user_id,
              |   sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
              |     AS y
              |  FROM events GROUP BY 1),
              | rn AS (SELECT y,
              |   CAST(row_number() OVER (ORDER BY y, user_id) AS BIGINT)
              |     AS rn, CAST(count(*) OVER () AS BIGINT) AS nn
              |  FROM u),
              | g AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |   sum(CAST(y AS HUGEINT)) AS sy,
              |   sum(CAST(rn AS HUGEINT) * y) AS sry,
              |   sum(CASE WHEN rn > nn - nn // 100 THEN CAST(y AS HUGEINT)
              |     ELSE 0 END) AS y1,
              |   sum(CASE WHEN rn > nn - nn // 10 THEN CAST(y AS HUGEINT)
              |     ELSE 0 END) AS y10
              |  FROM rn),
              | j AS (SELECT n, 2 * sry - (n + 1) * sy AS gnum,
              |   CAST(n AS HUGEINT) * sy AS gden, sy, y1, y10 FROM g)
              |SELECT n AS n_users,
              | round(${exactDblSql("gnum")} / ${exactDblSql("gden")}, 6)
              |   AS gini,
              | round(${exactDblSql("y1")} / ${exactDblSql("sy")}, 6)
              |   AS top1pct_share,
              | round(${exactDblSql("y10")} / ${exactDblSql("sy")}, 6)
              |   AS top10pct_share
              |FROM j""".stripMargin)),

    // PAIRED t-TEST (round 11) — the within-subject member of the
    // t-family (two-sample: agg_ab_ttest; trimmed: Yuen; this: each
    // user as their own control): d_u = post − pre value total per
    // user over the CUPED absolute-day split, t = mean(d)·√n / sd(d).
    // Pairing removes between-user variance — the workhorse for
    // before/after feature launches without a concurrent control.
    // d_u is an exact micro-lattice long (difference of two exact
    // DECIMAL sums), Σd/Σd² ride DECIMAL(38,0) and release through
    // the 2^32 hi/lo split; one corpus agg + one 1-row IEEE tree.
    Op("agg_paired_ttest", (s, dir) => {
      val micro = (col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
      val per = events(s, dir)
        .select(col("user_id"), micro.as("vi"),
          ((datediff(to_date(col("ts")), lit("2024-01-01")) + 1) <= 15)
            .as("pre"))
        .groupBy("user_id")
        .agg((sum(when(!col("pre"), col("vi")).otherwise(0L))
          - sum(when(col("pre"), col("vi")).otherwise(0L))).as("d"))
      val g = per.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("d").cast("decimal(38,0)")).as("sd"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("sdd"))
        .withColumn("asd", abs(col("sd")).cast("decimal(38,0)"))
      val sdD = when(col("sd") < 0, -1.0).otherwise(lit(1.0)) *
        exactDbl("asd") / lit(1000000.0)
      val sddD = exactDbl("sdd") / lit(1000000000000.0)
      val meanD = sdD / col("n")
      val varD = (sddD - sdD * sdD / col("n")) / (col("n") - lit(1.0))
      g.select(col("n").cast("long").as("n_users"),
        round(meanD, 6).as("mean_diff"),
        round(sqrt(varD), 6).as("sd_diff"),
        round(meanD / sqrt(varD / col("n")), 6).as("t_stat"))
    },
      Some(s"""WITH per AS (SELECT user_id,
              |   sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
              |     > 15 THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000
              |     AS BIGINT) ELSE 0 END)
              |   - sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
              |     <= 15 THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000
              |     AS BIGINT) ELSE 0 END) AS d
              |  FROM events GROUP BY 1),
              | g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              |   sum(CAST(d AS HUGEINT)) AS sd,
              |   sum(CAST(d AS HUGEINT) * d) AS sdd FROM per),
              | r AS (SELECT n,
              |   (CASE WHEN sd < 0 THEN -1.0 ELSE 1.0 END)
              |     * ${exactDblSql("abs(sd)")} / 1000000.0 AS sdd6,
              |   ${exactDblSql("sdd")} / 1000000000000.0 AS sdd12 FROM g)
              |SELECT CAST(n AS BIGINT) AS n_users,
              | round(sdd6 / n, 6) AS mean_diff,
              | round(sqrt((sdd12 - sdd6 * sdd6 / n) / (n - 1.0)), 6)
              |   AS sd_diff,
              | round((sdd6 / n) / sqrt(((sdd12 - sdd6 * sdd6 / n)
              |   / (n - 1.0)) / n), 6) AS t_stat
              |FROM r""".stripMargin)),

    // GRANGER-CAUSALITY SCREEN (round 11) — "does click activity at
    // hour t−1 help predict purchases at hour t beyond purchases' own
    // history?" — the lagged-regression F-test that upgrades
    // ts_lead_lag_corr's correlation into a directional predictive
    // claim (both directions released; Granger asymmetry is the
    // readout). Restricted OLS y~1+y₋₁ vs unrestricted y~1+y₋₁+x₋₁,
    // F = (RSS_r − RSS_u)(n−3)/RSS_u. Corpus → ONE hourly agg; the
    // dense hour grid, its lag window, and both moment aggregations
    // are calendar-bounded (~720 rows/month — the ts_backtest_snaive
    // allowlist class). Moments: quadratic sums of exact integer
    // hourly counts ride DECIMAL(28,0) and release through the 2^32
    // hi/lo split; the OLS solve is one shared Cramer IEEE tree.
    Op("ts_granger_causality", (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("p"),
          sum(when(col("event_type") === "click", 1L)
            .otherwise(0L)).as("c"))
        .localCheckpoint() // feeds both the grid bounds and the join
      val grid = hourly.agg(min("h").as("h0"), max("h").as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)"))
          .as("h"))
      val dense = grid.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("p", "c"))
      val w = Window.orderBy("h")
      val lagged = dense.select(col("h"), col("p"), col("c"),
          lag("p", 1).over(w).as("pl"), lag("c", 1).over(w).as("cl"))
        .filter(col("pl").isNotNull)
      val base = lagged.select(
          lit("click_to_purchase").as("direction"), col("p").as("y"),
          col("pl").as("x1"), col("cl").as("x2"))
        .unionAll(lagged.select(
          lit("purchase_to_click").as("direction"), col("c").as("y"),
          col("cl").as("x1"), col("pl").as("x2")))
      def q(x: Column) = x.cast("decimal(28,0)")
      val mraw = base.groupBy("direction").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x1")).cast("double").as("s1"),
        sum(col("x2")).cast("double").as("s2"),
        sum(q(col("x1") * col("x1"))).cast("decimal(38,0)").as("q11"),
        sum(q(col("x2") * col("x2"))).cast("decimal(38,0)").as("q22"),
        sum(q(col("x1") * col("x2"))).cast("decimal(38,0)").as("q12"),
        sum(q(col("x1") * col("y"))).cast("decimal(38,0)").as("q1y"),
        sum(q(col("x2") * col("y"))).cast("decimal(38,0)").as("q2y"),
        sum(q(col("y") * col("y"))).cast("decimal(38,0)").as("qyy"))
      val m = mraw.select(col("direction"), col("n"), col("sy"),
        col("s1"), col("s2"),
        exactDbl("q11").as("r11"), exactDbl("q22").as("r22"),
        exactDbl("q12").as("r12"), exactDbl("q1y").as("r1y"),
        exactDbl("q2y").as("r2y"), exactDbl("qyy").as("ryy"))
      val s11 = col("r11") - col("s1") * col("s1") / col("n")
      val s22 = col("r22") - col("s2") * col("s2") / col("n")
      val s12 = col("r12") - col("s1") * col("s2") / col("n")
      val s1y = col("r1y") - col("s1") * col("sy") / col("n")
      val s2y = col("r2y") - col("s2") * col("sy") / col("n")
      val syy = col("ryy") - col("sy") * col("sy") / col("n")
      val rssR = syy - s1y * s1y / s11
      val det = s11 * s22 - s12 * s12
      val b1 = (s1y * s22 - s2y * s12) / det
      val b2 = (s2y * s11 - s1y * s12) / det
      val rssU = syy - b1 * s1y - b2 * s2y
      val f = (rssR - rssU) * (col("n") - lit(3.0)) / rssU
      m.select(col("direction"), col("n").cast("long").as("n_hours"),
          round(b2, 6).as("b_cross_lag"),
          round(rssR, 6).as("rss_restricted"),
          round(rssU, 6).as("rss_unrestricted"),
          round(f, 6).as("f_stat"))
        .orderBy("direction")
    },
      Some(s"""WITH hourly AS (SELECT
              |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
              |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
              |     END) AS BIGINT) AS p,
              |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
              |     END) AS BIGINT) AS c
              |  FROM events GROUP BY 1),
              | grid AS (SELECT unnest(generate_series(
              |   (SELECT min(h) FROM hourly), (SELECT max(h) FROM hourly),
              |   INTERVAL 1 HOUR)) AS h),
              | dense AS (SELECT g.h, COALESCE(p, 0) AS p, COALESCE(c, 0) AS c
              |  FROM grid g LEFT JOIN hourly USING (h)),
              | lagged AS (SELECT h, p, c, lag(p) OVER (ORDER BY h) AS pl,
              |   lag(c) OVER (ORDER BY h) AS cl FROM dense),
              | base AS (SELECT 'click_to_purchase' AS direction, p AS y,
              |   pl AS x1, cl AS x2 FROM lagged WHERE pl IS NOT NULL
              |  UNION ALL SELECT 'purchase_to_click', c, cl, pl FROM lagged
              |   WHERE pl IS NOT NULL),
              | mm AS (SELECT direction, CAST(count(*) AS DOUBLE) AS n,
              |   CAST(sum(y) AS DOUBLE) AS sy,
              |   CAST(sum(x1) AS DOUBLE) AS s1,
              |   CAST(sum(x2) AS DOUBLE) AS s2,
              |   sum(CAST(x1 * x1 AS HUGEINT)) AS q11,
              |   sum(CAST(x2 * x2 AS HUGEINT)) AS q22,
              |   sum(CAST(x1 * x2 AS HUGEINT)) AS q12,
              |   sum(CAST(x1 * y AS HUGEINT)) AS q1y,
              |   sum(CAST(x2 * y AS HUGEINT)) AS q2y,
              |   sum(CAST(y * y AS HUGEINT)) AS qyy
              |  FROM base GROUP BY 1),
              | r AS (SELECT direction, n, sy, s1, s2,
              |   ${exactDblSql("q11")} AS r11, ${exactDblSql("q22")} AS r22,
              |   ${exactDblSql("q12")} AS r12, ${exactDblSql("q1y")} AS r1y,
              |   ${exactDblSql("q2y")} AS r2y, ${exactDblSql("qyy")} AS ryy
              |  FROM mm),
              | cent AS (SELECT direction, n,
              |   r11 - s1 * s1 / n AS s11, r22 - s2 * s2 / n AS s22,
              |   r12 - s1 * s2 / n AS s12, r1y - s1 * sy / n AS s1y,
              |   r2y - s2 * sy / n AS s2y, ryy - sy * sy / n AS syy
              |  FROM r),
              | sol AS (SELECT direction, n, syy - s1y * s1y / s11 AS rss_r,
              |   (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
              |   (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2,
              |   s1y, s2y, syy FROM cent),
              | fin AS (SELECT direction, n, b2, rss_r,
              |   syy - b1 * s1y - b2 * s2y AS rss_u FROM sol)
              |SELECT direction, CAST(n AS BIGINT) AS n_hours,
              | round(b2, 6) AS b_cross_lag,
              | round(rss_r, 6) AS rss_restricted,
              | round(rss_u, 6) AS rss_unrestricted,
              | round((rss_r - rss_u) * (n - 3.0) / rss_u, 6) AS f_stat
              |FROM fin ORDER BY direction""".stripMargin)),

    // WALD'S SPRT (1945) on the daily purchase share — the sequential
    // stopping rule that, unlike the OBF looks (fixed K analyses),
    // stays valid at EVERY day boundary: cumulative LLR = k·ln(p1/p0)
    // + (n−k)·ln((1−p1)/(1−p0)) against the ln((1−β)/α) / ln(β/(1−α))
    // boundaries. Corpus → one day-grid agg; the cumsum window is the
    // bounded-calendar allowlist class; the only nonintegers are four
    // JVM-computed literals shared verbatim with the oracle, so the
    // verdict comparison sees identical bits on both sides.
    Op("agg_sprt_sequential", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("k"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val llr = col("kc").cast("double") * lit(SprtC1) +
        (col("nc") - col("kc")).cast("double") * lit(SprtC2)
      daily
        .withColumn("nc", sum("n").over(w))
        .withColumn("kc", sum("k").over(w))
        .select(col("day"), col("nc").as("n_cum"), col("kc").as("k_cum"),
          round(llr, 6).as("llr"),
          when(llr >= lit(SprtA), "accept_h1")
            .when(llr <= lit(SprtB), "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("day")
    },
      Some(s"""WITH daily AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP))
              |   AS day, CAST(count(*) AS BIGINT) AS n,
              |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
              |     END) AS BIGINT) AS k
              |  FROM events GROUP BY 1),
              | c AS (SELECT day,
              |   sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              |     AND CURRENT ROW) AS nc,
              |   sum(k) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              |     AND CURRENT ROW) AS kc
              |  FROM daily),
              | l AS (SELECT day, nc, kc,
              |   CAST(kc AS DOUBLE) * $SprtC1
              |     + CAST(nc - kc AS DOUBLE) * $SprtC2 AS llr FROM c)
              |SELECT day, CAST(nc AS BIGINT) AS n_cum,
              | CAST(kc AS BIGINT) AS k_cum, round(llr, 6) AS llr,
              | CASE WHEN llr >= $SprtA THEN 'accept_h1'
              |      WHEN llr <= $SprtB THEN 'accept_h0'
              |      ELSE 'continue' END AS decision
              |FROM l ORDER BY day""".stripMargin)),

    // TUKEY HSD POST-HOC (round 11) — the pairwise follow-up
    // agg_anova_oneway's significant F demands: which groups actually
    // differ? q_ij = |m_i − m_j| / √(MSW/2·(1/n_i + 1/n_j)) (the
    // Tukey–Kramer unequal-n form) for every type pair. Group moments
    // are the ANOVA machine's exact dsum6 frames; MSW's cross-group sum
    // rides the DECIMAL(28,12) lattice; the ≤k² pair grid is a
    // broadcast self theta-join of the finished |types|-row aggregate —
    // the corpus is touched once.
    Op("agg_tukey_hsd", (s, dir) => {
      val dec = "decimal(28,12)"
      val st = AnalyticsExt.typeMoments(s, dir)
      val tot = st.agg(
        sum(col("n").cast(dec)).cast("double").as("nt"),
        count(lit(1)).as("k"),
        sum((col("sxx") - col("sx") * col("sx") / col("n")).cast(dec))
          .cast("double").as("ssw"))
      val (a, b) = AnalyticsExt.typeSides(st, Nil, "n" -> "n", "sx" -> "sx")
      val md = col("sxa") / col("na") - col("sxb") / col("nb")
      val msw = col("ssw") / (col("nt") - col("k"))
      val se = sqrt(msw / lit(2.0) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      a.join(b, col("type_a") < col("type_b"))
        .crossJoin(broadcast(tot))
        .select(col("type_a"), col("type_b"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          round(md, 6).as("mean_diff"), round(se, 6).as("se"),
          round(abs(md) / se, 6).as("q_stat"))
        .orderBy("type_a", "type_b")
    },
      Some(s"""WITH ${AnalyticsExt.typeMomentsCte},
              | tot AS (SELECT
              |   CAST(sum(CAST(n AS DECIMAL(28,12))) AS DOUBLE) AS nt,
              |   count(*) AS k,
              |   CAST(sum(CAST(sxx - sx * sx / n AS DECIMAL(28,12)))
              |     AS DOUBLE) AS ssw FROM st),
              | pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
              |   a.n AS na, b.n AS nb, a.sx AS sxa, b.sx AS sxb
              |  FROM st a JOIN st b ON a.event_type < b.event_type),
              | x AS (SELECT type_a, type_b, na, nb,
              |   sxa / na - sxb / nb AS md,
              |   sqrt(ssw / (nt - k) / 2.0 * (1.0 / na + 1.0 / nb)) AS se
              |  FROM pr CROSS JOIN tot)
              |SELECT type_a, type_b, CAST(na AS BIGINT) AS n_a,
              | CAST(nb AS BIGINT) AS n_b,
              | round(md, 6) AS mean_diff, round(se, 6) AS se,
              | round(abs(md) / se, 6) AS q_stat
              |FROM x ORDER BY type_a, type_b""".stripMargin)),

    // McNEMAR'S TEST (round 11) — paired binary outcomes on the SAME
    // subjects, at (user, day) grain: on days a user views, do they
    // also click? Only the DISCORDANT subject-days (view-only vs
    // click-only) carry information; the continuity-corrected
    // χ² = (|b−c|−1)²/(b+c) is the within-subject analog of
    // agg_chisq_independence. (User grain is degenerate here — every
    // user eventually does both — which is exactly why the paired test
    // runs on the finer panel.) One corpus agg to per-(user, day)
    // presence bits, one 4-cell reduce, one IEEE tree over exact longs;
    // χ² is NULL when no discordant pairs exist.
    Op("agg_mcnemar", (s, dir) => {
      val per = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d")).agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("y"))
      val cells = per.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x") * col("y")).as("n_both"),
        sum(col("x") * (lit(1L) - col("y"))).as("b"),
        sum((lit(1L) - col("x")) * col("y")).as("c"))
      val dd = abs(col("b") - col("c")) - lit(1L)
      cells.select(col("n_pairs"), col("n_both"),
        col("b").as("n_view_only"), col("c").as("n_click_only"),
        when(col("b") + col("c") === 0L, lit(null).cast("double"))
          .otherwise(round((dd * dd).cast("double") / (col("b") + col("c")),
            6)).as("chi2_cc"))
    },
      Some("""WITH per AS (SELECT user_id, CAST(ts AS DATE) AS d,
             |   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
             |   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
             |  FROM events GROUP BY 1, 2),
             | cells AS (SELECT count(*) AS n_pairs,
             |   CAST(sum(x * y) AS BIGINT) AS n_both,
             |   CAST(sum(x * (1 - y)) AS BIGINT) AS b,
             |   CAST(sum((1 - x) * y) AS BIGINT) AS c FROM per)
             |SELECT n_pairs, n_both, b AS n_view_only, c AS n_click_only,
             | CASE WHEN b + c = 0 THEN NULL
             |  ELSE round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
             |   / (b + c), 6) END AS chi2_cc
             |FROM cells""".stripMargin)),

    // CAPTURE–RECAPTURE POPULATION ESTIMATE (round 11) — the Chapman
    // estimator applied to the two corpus halves as the two "capture"
    // occasions: N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with m the users seen in
    // both. Estimates the TRUE audience size including never-seen users
    // — the ecology trick product analytics borrows for reach
    // estimation. All counts exact longs from one corpus agg; the
    // variance's 4-way product rides DECIMAL(38,0) and releases via the
    // hi/lo split (it passes 2^53 long before the counts do).
    Op("agg_capture_recapture", (s, dir) => {
      val dayN = datediff(to_date(col("ts")), lit("2024-01-01")) + 1
      val per = events(s, dir).groupBy("user_id").agg(
        max(when(dayN <= 15, 1L).otherwise(0L)).as("p1"),
        max(when(dayN > 15, 1L).otherwise(0L)).as("p2"))
      val cells = per.agg(
        sum("p1").as("n1"), sum("p2").as("n2"),
        sum(col("p1") * col("p2")).as("m"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val nhat = (col("n1") + lit(1.0)) * (col("n2") + lit(1.0)) /
        (col("m") + lit(1.0)) - lit(1.0)
      val varNum = (d38(col("n1") + 1) * (col("n2") + 1) *
        (col("n1") - col("m")) * (col("n2") - col("m")))
        .cast("decimal(38,0)")
      val varDen = (col("m") + lit(1.0)) * (col("m") + lit(1.0)) *
        (col("m") + lit(2.0))
      cells.select(col("n1").as("n_first"), col("n2").as("n_second"),
          col("m").as("n_both"), round(nhat, 6).as("chapman_nhat"),
          varNum.as("vn"), varDen.as("vd"))
        .select(col("n_first"), col("n_second"), col("n_both"),
          col("chapman_nhat"),
          round(sqrt(exactDbl("vn") / col("vd")), 6).as("se_nhat"))
    },
      Some(s"""WITH per AS (SELECT user_id,
              |   max(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
              |     <= 15 THEN 1 ELSE 0 END) AS p1,
              |   max(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
              |     > 15 THEN 1 ELSE 0 END) AS p2
              |  FROM events GROUP BY 1),
              | cells AS (SELECT CAST(sum(p1) AS BIGINT) AS n1,
              |   CAST(sum(p2) AS BIGINT) AS n2,
              |   CAST(sum(p1 * p2) AS BIGINT) AS m FROM per),
              | x AS (SELECT n1, n2, m,
              |   (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0 AS nhat,
              |   CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m) * (n2 - m)
              |     AS vn,
              |   (m + 1.0) * (m + 1.0) * (m + 2.0) AS vd FROM cells)
              |SELECT n1 AS n_first, n2 AS n_second, m AS n_both,
              | round(nhat, 6) AS chapman_nhat,
              | round(sqrt(${exactDblSql("vn")} / vd), 6) AS se_nhat
              |FROM x""".stripMargin)),

    // MARKET-BASKET ASSOCIATION RULES (round 11) — support /
    // confidence / lift over event-type pairs co-occurring in the same
    // (user, day) basket: "users who error also purchase?" is the
    // behavioral-association readout, and the same machine mines
    // co-occurring sources/tags in a corpus. The basket frame is the
    // DEDUPED (user, day, type) projection, so the self-join fans out
    // ≤|types| rows per basket (k² pairs, k vocabulary-bounded) — an
    // equi-join on the basket key, never a corpus pair join. All
    // counts exact longs; support/confidence/lift are single IEEE
    // trees.
    Op("agg_market_basket", (s, dir) => {
      val b = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
          col("event_type")).distinct()
        .localCheckpoint() // feeds both join sides + two count frames
      val tot = b.select("user_id", "d").distinct()
        .agg(count(lit(1)).as("nb"))
      val pt = b.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pc = b.as("x").join(b.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.d") === col("y.d") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pc.join(broadcast(pt.select(col("event_type").as("type_a"),
          col("n_t").as("n_a"))), "type_a")
        .join(broadcast(pt.select(col("event_type").as("type_b"),
          col("n_t").as("n_b"))), "type_b")
        .crossJoin(broadcast(tot))
        .select(col("type_a"), col("type_b"), col("n_ab"),
          round(col("n_ab").cast("double") / col("nb"), 6).as("support"),
          round(col("n_ab").cast("double") / col("n_a"), 6)
            .as("confidence"),
          round(col("n_ab").cast("double") * col("nb") /
            (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
        .orderBy("type_a", "type_b")
    },
      Some("""WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
             |   event_type FROM events),
             | tot AS (SELECT count(*) AS nb
             |  FROM (SELECT DISTINCT user_id, d FROM b)),
             | pt AS (SELECT event_type, count(*) AS n_t FROM b GROUP BY 1),
             | pc AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
             |   count(*) AS n_ab
             |  FROM b x JOIN b y ON x.user_id = y.user_id AND x.d = y.d
             |    AND x.event_type < y.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, n_ab,
             | round(CAST(n_ab AS DOUBLE) / (SELECT nb FROM tot), 6)
             |   AS support,
             | round(CAST(n_ab AS DOUBLE) / a.n_t, 6) AS confidence,
             | round(CAST(n_ab AS DOUBLE) * (SELECT nb FROM tot)
             |   / (CAST(a.n_t AS DOUBLE) * bb.n_t), 6) AS lift
             |FROM pc JOIN pt a ON pc.type_a = a.event_type
             | JOIN pt bb ON pc.type_b = bb.event_type
             |ORDER BY type_a, type_b""".stripMargin)),

    // BENFORD FIRST-DIGIT AUDIT (round 11) — the fraud/data-quality
    // screen: does the leading digit of order amounts follow
    // log10(1+1/d)? Fabricated or truncated monetary data fails this
    // loudly. The digit comes from the INTEGER micro-lattice rendered
    // as a string (no float log10 at a power-of-10 boundary can
    // misbucket); the nine expected shares are JVM-computed constants
    // interpolated into both engines (the SPRT literal rule); each
    // (O−E)²/E cell is one IEEE tree over an exact count and that
    // constant. One corpus agg → 9-row grid.
    Op("agg_benford_digits", (s, dir) => {
      val benford = (1 to 9).map(d => math.log10(1 + 1.0 / d))
      val mi = (col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("long")
      val o = t(s, dir, "orders")
        .select(substring(mi.cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = o.agg(sum("n_obs").as("nt"))
      val expS = (2 to 9).foldLeft(
        when(col("digit") === "1", lit(benford(0)))) { (acc, d) =>
        acc.when(col("digit") === d.toString, lit(benford(d - 1)))
      }
      val e = col("nt").cast("double") * expS
      o.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          round(col("n_obs").cast("double") / col("nt"), 6).as("obs_share"),
          round(expS, 6).as("exp_share"),
          round((col("n_obs") - e) * (col("n_obs") - e) / e, 6)
            .as("chi2_contrib"))
        .orderBy("digit")
    },
      Some {
        val benford = (1 to 9).map(d => math.log10(1 + 1.0 / d))
        val caseExpr = (1 to 9).map(d =>
          s"WHEN digit = '$d' THEN ${benford(d - 1)}").mkString(" ")
        s"""WITH o AS (SELECT substring(CAST(CAST(CAST(o_totalprice
           |     AS DECIMAL(18,4)) * 10000 AS BIGINT) AS VARCHAR), 1, 1)
           |     AS digit, count(*) AS n_obs
           |  FROM orders GROUP BY 1),
           | tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS nt FROM o),
           | x AS (SELECT digit, n_obs, (SELECT nt FROM tot) AS nt,
           |   CASE $caseExpr END AS es FROM o)
           |SELECT digit, n_obs,
           | round(CAST(n_obs AS DOUBLE) / nt, 6) AS obs_share,
           | round(es, 6) AS exp_share,
           | round((n_obs - CAST(nt AS DOUBLE) * es)
           |   * (n_obs - CAST(nt AS DOUBLE) * es)
           |   / (CAST(nt AS DOUBLE) * es), 6) AS chi2_contrib
           |FROM x ORDER BY digit""".stripMargin
      }),

    // TWO-PROPORTION z-TEST (round 11) — the conversion-rate member of
    // the A/B test family (agg_ab_ttest tests means; this tests the
    // binary conversion the Wilson-CI key only intervals): pooled
    // z = (p̂_a − p̂_b)/√(p̂(1−p̂)(1/n_a + 1/n_b)) over the salted-md5
    // 50/50 user split (the srm42 arm idiom — engine/partition/run
    // stable). Conversion is measured at (user, day) grain — "did the
    // user purchase that day" — the agg_mcnemar panel rule: lifetime
    // user-grain conversion saturates to 1 on any long corpus and the
    // test degenerates (p̂=1 ⇒ zero variance). One corpus agg to the
    // panel bits, a 2-row arm agg, one IEEE tree over exact longs.
    Op("agg_two_proportion_z", (s, dir) => {
      val per = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d")).agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .select(col("conv"),
          when(AnalyticsExt.srmArmA, "a").otherwise("b").as("arm"))
      val g = per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("conv").as("k"))
      val a = g.filter(col("arm") === "a")
        .select(col("n").as("n_a"), col("k").as("k_a"))
      val b = g.filter(col("arm") === "b")
        .select(col("n").as("n_b"), col("k").as("k_b"))
      val pa = col("k_a").cast("double") / col("n_a")
      val pb = col("k_b").cast("double") / col("n_b")
      val pp = (col("k_a") + col("k_b")).cast("double") /
        (col("n_a") + col("n_b"))
      val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      a.crossJoin(b).select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
        round(z, 6).as("z_stat"))
    },
      Some(s"""WITH per AS (SELECT
             |   CASE WHEN ${AnalyticsExt.srmArmASql} THEN 'a' ELSE 'b' END AS arm,
             |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |     AS conv
             |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
             | g AS (SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS k
             |  FROM per GROUP BY 1),
             | aa AS (SELECT n AS n_a, k AS k_a FROM g WHERE arm = 'a'),
             | bb AS (SELECT n AS n_b, k AS k_b FROM g WHERE arm = 'b'),
             | x AS (SELECT n_a, k_a, n_b, k_b,
             |   CAST(k_a AS DOUBLE) / n_a AS pa,
             |   CAST(k_b AS DOUBLE) / n_b AS pb,
             |   CAST(k_a + k_b AS DOUBLE) / (n_a + n_b) AS pp
             |  FROM aa CROSS JOIN bb)
             |SELECT n_a, k_a, n_b, k_b,
             | round(pa, 6) AS p_a, round(pb, 6) AS p_b,
             | round((pa - pb) / sqrt(pp * (1.0 - pp)
             |   * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
             |FROM x""".stripMargin)),

    // COHEN'S KAPPA (round 11) — chance-corrected agreement between two
    // document "raters" (here: the composite quality heuristic vs the
    // plain length rule — do the cheap filter and the rich filter agree
    // beyond chance?). The measurement every labeling/filtering
    // pipeline needs before trusting a cheaper proxy rater. Exact 2×2
    // cell counts from one corpus agg; marginal products release as
    // correctly-rounded double products (exact-int inputs), κ is one
    // shared IEEE tree.
    Op("agg_cohens_kappa", (s, dir) => {
      val d = t(s, dir, "documents").select(
        (TextOps.qualityScore(col("text")) >= 0.5).cast("long").as("r1"),
        (col("n_chars") >= 200L).cast("long").as("r2"))
      val cells = d.agg(count(lit(1)).as("n"),
        sum(col("r1") * col("r2")).as("a"),
        sum(col("r1") * (lit(1L) - col("r2"))).as("b"),
        sum((lit(1L) - col("r1")) * col("r2")).as("c"))
        .withColumn("dd", col("n") - col("a") - col("b") - col("c"))
      val nD = col("n").cast("double")
      val po = (col("a") + col("dd")).cast("double") / col("n")
      val pe = ((col("a") + col("b")).cast("double") * (col("a") + col("c"))
        + (col("c") + col("dd")).cast("double") * (col("b") + col("dd"))) /
        (nD * nD)
      cells.select(col("n").as("n_docs"), col("a").as("agree_pos"),
        col("dd").as("agree_neg"), (col("b") + col("c")).as("disagree"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    },
      Some(s"""WITH d AS (SELECT
              |   CASE WHEN ${TextOps.qualitySql("text")} >= 0.5 THEN 1
              |     ELSE 0 END AS r1,
              |   CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r2
              |  FROM documents),
              | cells AS (SELECT count(*) AS n,
              |   CAST(sum(r1 * r2) AS BIGINT) AS a,
              |   CAST(sum(r1 * (1 - r2)) AS BIGINT) AS b,
              |   CAST(sum((1 - r1) * r2) AS BIGINT) AS c FROM d),
              | x AS (SELECT n, a, b, c, n - a - b - c AS dd FROM cells),
              | y AS (SELECT n, a, b, c, dd,
              |   CAST(a + dd AS DOUBLE) / n AS po,
              |   (CAST(a + b AS DOUBLE) * (a + c)
              |     + CAST(c + dd AS DOUBLE) * (b + dd))
              |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
              |  FROM x)
              |SELECT n AS n_docs, a AS agree_pos, dd AS agree_neg,
              | CAST(b + c AS BIGINT) AS disagree,
              | round(po, 6) AS po, round(pe, 6) AS pe,
              | round((po - pe) / (1.0 - pe), 6) AS kappa
              |FROM y""".stripMargin)),

    // LORENZ DECILE TABLE (round 11) — the plot data behind
    // agg_gini_concentration's scalar: users ranked ascending by total
    // value, cut into integer-exact deciles, each with its value share
    // and the cumulative share (the Lorenz curve's y at each decile
    // edge). Ranking runs through the two-level bucketedRowNumber (no
    // corpus-sized single-task sort); value sums ride DECIMAL(38,0) and
    // release via the 2^32 hi/lo split; the cumulative window runs on
    // the 10-row decile grid only.
    Op("agg_lorenz_deciles", (s, dir) => {
      val u = userTotals(s, dir, byType = false)
        .select(col("user_id"), col("y"))
        .localCheckpoint() // feeds bucket bounds, the rank frame, and nn
      val n1 = u.agg(count(lit(1)).as("nn"))
      val rn = ScalableWindows.bucketedRowNumber(
        u.crossJoin(broadcast(n1)), Seq.empty, "y",
        Seq(col("y"), col("user_id")))
      val dec = rn
        .withColumn("decile", expr("((rn - 1) * 10) div nn + 1").cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"),
          sum(col("y").cast("decimal(38,0)")).as("sy"))
      val tot = u.agg(sum(col("y").cast("decimal(38,0)")).as("ty"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.crossJoin(broadcast(tot))
        .withColumn("cy", sum(col("sy")).over(w).cast("decimal(38,0)"))
        .select(col("decile"), col("n_users"),
          round(exactDbl("sy") / exactDbl("ty"), 6).as("value_share"),
          round(exactDbl("cy") / exactDbl("ty"), 6).as("cum_value_share"))
        .orderBy("decile")
    },
      Some(s"""WITH u AS (SELECT user_id,
              |   sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
              |     AS y
              |  FROM events GROUP BY 1),
              | n AS (SELECT count(*) AS nn FROM u),
              | rn AS (SELECT y, user_id,
              |   row_number() OVER (ORDER BY y, user_id) AS rn FROM u),
              | dec AS (SELECT
              |   CAST((rn - 1) * 10 // (SELECT nn FROM n) + 1 AS INT)
              |     AS decile,
              |   count(*) AS n_users, sum(CAST(y AS HUGEINT)) AS sy
              |  FROM rn GROUP BY 1),
              | tot AS (SELECT sum(CAST(y AS HUGEINT)) AS ty FROM u),
              | c AS (SELECT decile, n_users, sy,
              |   sum(sy) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              |     PRECEDING AND CURRENT ROW) AS cy FROM dec)
              |SELECT decile, n_users,
              | round(${exactDblSql("sy")}
              |   / ${exactDblSql("(SELECT ty FROM tot)")}, 6) AS value_share,
              | round(${exactDblSql("cy")}
              |   / ${exactDblSql("(SELECT ty FROM tot)")}, 6)
              |   AS cum_value_share
              |FROM c ORDER BY decile""".stripMargin)),

    // A/A CALIBRATION (round 11) — the experimentation platform's
    // self-audit: run the two-proportion z machine over 200 SALTED
    // pseudo-experiments where both arms draw from the same population
    // (salt "aa42:<r>:<user>"), and report the realized false-positive
    // rate at |z| > 1.96 — a platform whose A/A rejects ≫5% has a
    // broken variance estimate or a clustered metric, and this key
    // catches it before any real experiment ships. The 200× explode is
    // the permCells pattern: a projection that map-side combines to
    // ≤200·2 cells — the shuffle carries CELLS, never the expansion;
    // each replicate's z is one IEEE tree over exact longs (pooled p̂
    // is the constant panel rate, so no degenerate denominator).
    Op("agg_aa_calibration", (s, dir) => {
      val reps = 200
      val per = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d")).agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val armed = per.select(col("user_id"), col("conv"),
          explode(sequence(lit(0), lit(reps - 1))).as("r"))
        .withColumn("arm",
          when(substring(md5(concat(lit("aa42:"), col("r").cast("string"),
            lit(":"), col("user_id").cast("string"))), 1, 1) < "8",
            "a").otherwise("b"))
      val g = armed.groupBy("r", "arm")
        .agg(count(lit(1)).as("n"), sum("conv").as("k"))
        .groupBy("r")
        .agg(sum(when(col("arm") === "a", col("n")).otherwise(0L)).as("na"),
          sum(when(col("arm") === "a", col("k")).otherwise(0L)).as("ka"),
          sum(when(col("arm") === "b", col("n")).otherwise(0L)).as("nb"),
          sum(when(col("arm") === "b", col("k")).otherwise(0L)).as("kb"))
      val pa = col("ka").cast("double") / col("na")
      val pb = col("kb").cast("double") / col("nb")
      val pp = (col("ka") + col("kb")).cast("double") /
        (col("na") + col("nb"))
      val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      g.select(col("r"), z.as("z"))
        .agg(count(lit(1)).as("n_reps"),
          sum(when(abs(col("z")) > 1.96, 1L).otherwise(0L))
            .as("n_false_positive"))
        .select(col("n_reps"), col("n_false_positive"),
          round(col("n_false_positive").cast("double") / col("n_reps"), 6)
            .as("fp_rate"))
    },
      Some("""WITH per AS (SELECT user_id,
             |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |     AS conv
             |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
             | armed AS (SELECT user_id, conv, r,
             |   CASE WHEN substring(md5('aa42:' || CAST(r AS VARCHAR) || ':'
             |     || CAST(user_id AS VARCHAR)), 1, 1) < '8'
             |    THEN 'a' ELSE 'b' END AS arm
             |  FROM per CROSS JOIN
             |   (SELECT unnest(generate_series(0, 199)) AS r)),
             | cells AS (SELECT r, arm, count(*) AS n,
             |   CAST(sum(conv) AS BIGINT) AS k FROM armed GROUP BY 1, 2),
             | g AS (SELECT r,
             |   CAST(sum(CASE WHEN arm = 'a' THEN n ELSE 0 END) AS BIGINT)
             |     AS na,
             |   CAST(sum(CASE WHEN arm = 'a' THEN k ELSE 0 END) AS BIGINT)
             |     AS ka,
             |   CAST(sum(CASE WHEN arm = 'b' THEN n ELSE 0 END) AS BIGINT)
             |     AS nb,
             |   CAST(sum(CASE WHEN arm = 'b' THEN k ELSE 0 END) AS BIGINT)
             |     AS kb
             |  FROM cells GROUP BY 1),
             | zz AS (SELECT r,
             |   (CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb)
             |    / sqrt((CAST(ka + kb AS DOUBLE) / (na + nb))
             |      * (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb))
             |      * (1.0 / na + 1.0 / nb)) AS z
             |  FROM g),
             | f AS (SELECT count(*) AS n_reps,
             |   CAST(sum(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END)
             |     AS BIGINT) AS n_false_positive FROM zz)
             |SELECT n_reps, n_false_positive,
             | round(CAST(n_false_positive AS DOUBLE) / n_reps, 6) AS fp_rate
             |FROM f""".stripMargin)),

    // FRIEDMAN TEST (round 11) — the REPEATED-MEASURES omnibus that
    // completes the nonparametric ladder (pairwise Mann–Whitney →
    // independent-groups Kruskal–Wallis → this, blocks as their own
    // controls): within each DAY block, rank the event types by their
    // daily count, then χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) over the
    // per-type rank sums. Day-block ranking is mid-rank on ties
    // (rank + (ties−1)/2 — deterministic in both engines), kept exact
    // by DOUBLING: R2 = 2·mid is an integer, so the rank sums are
    // exact longs and the statistic is one IEEE tree. Every window is
    // partitioned by the day block (≤|types| rows per partition) — the
    // machine is calendar×vocabulary-bounded after one corpus agg.
    // Friedman assumes a COMPLETE block design: the day×type grid is
    // densified with zero counts (the ts_peak_detect gap-fill idiom)
    // before ranking, so a type missing from one day still ranks in
    // that block instead of silently shrinking its block count.
    Op("agg_friedman_test", (s, dir) => {
      val daily0 = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val days = daily0.select("day").distinct()
      val types = daily0.select("event_type").distinct()
      val daily = days.crossJoin(broadcast(types))
        .join(daily0, Seq("day", "event_type"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val wR = Window.partitionBy("day").orderBy("cnt")
      val wT = Window.partitionBy("day", "cnt")
      val ranked = daily
        .withColumn("r", rank().over(wR).cast("long"))
        .withColumn("t", count(lit(1)).over(wT))
        .withColumn("r2", col("r") * 2 + (col("t") - 1)) // 2·mid-rank
      val sums = ranked.groupBy("event_type")
        .agg(sum("r2").as("rs2"), count(lit(1)).as("nb"))
      val tot = sums.agg(count(lit(1)).as("k"), max("nb").as("n"))
      val kD = col("k").cast("double")
      val nD = col("n").cast("double")
      val chi2 = (lit(12.0) / (nD * kD * (kD + lit(1.0))) *
        sum((col("rs2") / lit(2.0)) * (col("rs2") / lit(2.0)))) -
        lit(3.0) * nD * (kD + lit(1.0))
      sums.crossJoin(broadcast(tot)).groupBy("k", "n")
        .agg(round(chi2, 6).as("chi2_f"))
        .select(col("k").cast("long").as("n_treatments"),
          col("n").cast("long").as("n_blocks"), col("chi2_f"),
          (col("k") - 1).cast("long").as("df"))
    },
      Some("""WITH daily0 AS (SELECT CAST(ts AS DATE) AS day, event_type,
             |   count(*) AS cnt FROM events GROUP BY 1, 2),
             | days AS (SELECT DISTINCT day FROM daily0),
             | types AS (SELECT DISTINCT event_type FROM daily0),
             | daily AS (SELECT d.day, t.event_type, COALESCE(cnt, 0) AS cnt
             |  FROM days d CROSS JOIN types t LEFT JOIN daily0
             |    ON daily0.day = d.day AND daily0.event_type = t.event_type),
             | ranked AS (SELECT day, event_type,
             |   CAST(rank() OVER (PARTITION BY day ORDER BY cnt) AS BIGINT)
             |     * 2 + (count(*) OVER (PARTITION BY day, cnt) - 1) AS r2
             |  FROM daily),
             | sums AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS rs2,
             |   count(*) AS nb FROM ranked GROUP BY 1),
             | tot AS (SELECT count(*) AS k, max(nb) AS n FROM sums),
             | x AS (SELECT (SELECT k FROM tot) AS k, (SELECT n FROM tot) AS n,
             |   sum((rs2 / 2.0) * (rs2 / 2.0)) AS s2 FROM sums)
             |SELECT CAST(k AS BIGINT) AS n_treatments,
             | CAST(n AS BIGINT) AS n_blocks,
             | round(12.0 / (CAST(n AS DOUBLE) * k * (k + 1.0)) * s2
             |   - 3.0 * CAST(n AS DOUBLE) * (k + 1.0), 6) AS chi2_f,
             | CAST(k - 1 AS BIGINT) AS df
             |FROM x""".stripMargin)),

    // WALD–WOLFOWITZ RUNS TEST (round 11) — is the daily traffic
    // sequence RANDOM around its median, or does it trend/oscillate?
    // (Too few runs = regime persistence; too many = alternation —
    // either invalidates the i.i.d. assumption the per-day A/B readouts
    // lean on.) Days above the exact daily-count median become a ±
    // sequence; R = 1 + sign changes via a lag over the ~30-row day
    // grid (ties-on-median days drop, the classic rule); z uses the
    // exact-integer moments μ = 2n₁n₂/(n₁+n₂)+1. One corpus agg →
    // calendar-bounded everything.
    Op("agg_runs_test", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val med = daily.agg(percentile(col("cnt"), lit(0.5)).as("md"))
      val signed = daily.crossJoin(broadcast(med))
        .filter(col("cnt") =!= col("md"))
        .select(col("day"), (col("cnt") > col("md")).cast("long").as("s"))
      val w = Window.orderBy("day")
      val runs = signed
        .withColumn("chg",
          when(lag("s", 1).over(w).isNull, 1L)
            .when(col("s") =!= lag("s", 1).over(w), 1L).otherwise(0L))
        .agg(sum("chg").as("r"), sum("s").as("n1"),
          sum(lit(1L) - col("s")).as("n2"))
      val n1D = col("n1").cast("double")
      val n2D = col("n2").cast("double")
      val nD = n1D + n2D
      val mu = lit(2.0) * n1D * n2D / nD + lit(1.0)
      val sg = sqrt(lit(2.0) * n1D * n2D *
        (lit(2.0) * n1D * n2D - n1D - n2D) / (nD * nD * (nD - lit(1.0))))
      runs.select(col("r").as("n_runs"), col("n1").as("n_above"),
        col("n2").as("n_below"), round(mu, 6).as("expected_runs"),
        round((col("r") - mu) / sg, 6).as("z_stat"))
    },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
             |  FROM events GROUP BY 1),
             | med AS (SELECT quantile_cont(cnt, 0.5) AS md FROM daily),
             | signed AS (SELECT day,
             |   CAST(cnt > (SELECT md FROM med) AS BIGINT) AS s
             |  FROM daily WHERE cnt <> (SELECT md FROM med)),
             | runs AS (SELECT
             |   CAST(sum(CASE WHEN pl IS NULL THEN 1
             |     WHEN s <> pl THEN 1 ELSE 0 END) AS BIGINT) AS r,
             |   CAST(sum(s) AS BIGINT) AS n1,
             |   CAST(sum(1 - s) AS BIGINT) AS n2
             |  FROM (SELECT s, lag(s) OVER (ORDER BY day) AS pl FROM signed)),
             | x AS (SELECT r, n1, n2,
             |   CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
             |   CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nd FROM runs)
             |SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
             | round(2.0 * n1d * n2d / nd + 1.0, 6) AS expected_runs,
             | round((r - (2.0 * n1d * n2d / nd + 1.0))
             |   / sqrt(2.0 * n1d * n2d * (2.0 * n1d * n2d - n1d - n2d)
             |     / (nd * nd * (nd - 1.0))), 6) AS z_stat
             |FROM x""".stripMargin)),

    // POISSON RATE TEST (round 11) — did the purchase RATE change
    // between the two corpus halves? The conditional test: given
    // c₁+c₂ events, c₁ ~ Binomial(c₁+c₂, ½) under equal rates (equal
    // 15-day exposures — the CUPED split), z = (c₁−c₂)/√(c₁+c₂), with
    // the rate ratio beside it. The count-data sibling of
    // agg_two_proportion_z: one corpus agg to two exact longs, one
    // IEEE tree.
    Op("agg_poisson_rate_test", (s, dir) => {
      val dayN = datediff(to_date(col("ts")), lit("2024-01-01")) + 1
      val g = events(s, dir).filter(col("event_type") === "purchase")
        .agg(sum(when(dayN <= 15, 1L).otherwise(0L)).as("c1"),
          sum(when(dayN > 15, 1L).otherwise(0L)).as("c2"))
      g.select(col("c1").as("n_first"), col("c2").as("n_second"),
        round(col("c1").cast("double") / lit(15.0), 6).as("rate_first"),
        round(col("c2").cast("double") / lit(15.0), 6).as("rate_second"),
        round(col("c1").cast("double") / col("c2"), 6).as("rate_ratio"),
        round((col("c1") - col("c2")).cast("double") /
          sqrt((col("c1") + col("c2")).cast("double")), 6).as("z_stat"))
    },
      Some("""WITH g AS (SELECT
             |   CAST(sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
             |     <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             |   CAST(sum(CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01' + 1)
             |     > 15 THEN 1 ELSE 0 END) AS BIGINT) AS c2
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c1 AS n_first, c2 AS n_second,
             | round(CAST(c1 AS DOUBLE) / 15.0, 6) AS rate_first,
             | round(CAST(c2 AS DOUBLE) / 15.0, 6) AS rate_second,
             | round(CAST(c1 AS DOUBLE) / c2, 6) AS rate_ratio,
             | round(CAST(c1 - c2 AS DOUBLE) / sqrt(CAST(c1 + c2 AS DOUBLE)),
             |   6) AS z_stat
             |FROM g""".stripMargin)),
  )
}
