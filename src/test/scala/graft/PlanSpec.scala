package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the scale contract.
  *
  * Correctness specs prove the operators right at small SF; these prove the
  * *plans* are the ones that survive a 1000-executor / 100 TB deployment:
  * filters reach the parquet scan, projections prune the read schema, small
  * dimensions broadcast, large joins shuffle on their keys, top-k never
  * globally sorts, and nothing degenerates into a cartesian product.
  * A regression here is invisible at sf0.001 and fatal at scale, which is
  * exactly why it is pinned in CI.
  */
class PlanSpec extends SparkSpec {

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Pre-AQE shuffle count: `Exchange hashpartitioning` nodes in the
    * SIMPLE explain string (formatted mode moves partitioning into the
    * Arguments section and would count zero, silently). */
  private def hashExchanges(key: String): Int = {
    // Drop caches left by earlier suites: simple-mode explain prints the
    // full child plan inside each InMemoryRelation, so stale cache entries
    // (e.g. IvfSpec's) would double-count this query's own exchanges.
    spark.sharedState.cacheManager.clearCache()
    val p = SparkEntry.queries(key)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).size
  }

  test("sql_api_pipe: pipe syntax is pure surface — filter pushed, partial agg planned") {
    val p = plan("sql_api_pipe")
    // the |> WHERE stage must reach the scan as a pushed filter,
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // and the |> AGGREGATE stage must two-phase like any hash agg.
    assert(p.contains("HashAggregate"), p)
  }

  test("filter_compare pushes predicates into the parquet scan") {
    val p = plan("filter_compare")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan") || p.contains("LessThanOrEqual"), p)
  }

  test("scan_schema_projection prunes the read schema to selected columns") {
    val p = plan("scan_schema_projection")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(readSchema.nonEmpty, p)
    // lineitem has 16 columns; the projection reads exactly three.
    assert(readSchema.count(_ == ':') >= 1 && !readSchema.contains("l_comment"), readSchema)
    assert(readSchema.contains("l_orderkey"), readSchema)
  }

  test("project_arith reads only the columns the expression needs") {
    val p = plan("project_arith")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"), readSchema)
  }

  test("join_broadcast plans broadcast-hash joins for the small dimensions") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_sortmerge plans a sort-merge join for the two large tables") {
    val p = plan("join_sortmerge")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("join_shuffle_hash honors the SHUFFLE_HASH hint") {
    val p = plan("join_shuffle_hash")
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("agg_hash_groupby uses two-phase hash aggregation inside codegen") {
    val p = plan("agg_hash_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    val cg = SparkEntry.queries("agg_hash_groupby")(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen subtrees"), cg.take(500))
  }

  test("topk_limit avoids a global sort via TakeOrderedAndProject") {
    val p = plan("topk_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("no query degenerates into a cartesian or broadcast-nested-loop join") {
    // join_cross_theta is the one deliberate cross product (region×nation,
    // 5×25 rows); every other plan must stay equi-join shaped.
    for (key <- SparkEntry.queries.keys if key != "join_cross_theta") {
      val p = plan(key)
      assert(!p.contains("CartesianProduct"), s"$key:\n$p")
      withClue(s"$key uses BroadcastNestedLoopJoin — bounded side required") {
        // BNLJ is acceptable only when one side is bounded by construction:
        // a sample/limit (join_range_interval/join_asof theta-join a 100-row
        // sample, sim_knn/fingerprint broadcast fixed query sets) or a
        // 1-row aggregate (text_tfidf's corpus-count cross join).
        // The two brute-force all-pairs similarity baselines BNLJ by design
        // (no equi key exists); their scale path is the banded sim_ann_lsh.
        if (p.contains("BroadcastNestedLoopJoin"))
          assert(Seq("join_range_interval", "join_asof", "sim_knn_per_query",
            "sim_range_search", // same bounded broadcast query set as knn
            "sim_nearest_exemplar", // bounded 10-exemplar broadcast cross join
            "text_fingerprint", "text_tfidf", "dedup_embed_cosine",
            "sim_cosine_topk", "sim_ivf_knn",
            "sim_pq_knn",    // both cross joins broadcast bounded sides:
                             // the ≤m·k-row codebook and the query LUT frame
            "sim_ivfpq_knn", // same bounded sides + the ≤kCells centroid set
            "text_lm_score", // 1-row vocab-size aggregate cross join (as text_tfidf)
            "pipeline_perplexity_buckets", // same 1-row vocab cross (shares lmDocScores)
            "text_vocab_coverage", // 1-row (total, vocab) aggregate cross join
            "agg_bootstrap_median_ci", // stale-safe entry: round 11 replaced
                                       // the replica cross join with a
                                       // lane-explode (no BNLJ remains)
            "agg_cuped_adjustment", // 1-row moment-frame broadcast cross (theta)
            "graph_modularity_lang", // 1-row edge-count aggregate cross join
            "ts_psi_drift", // 1-row (totals, bucket-count) aggregate cross join
            "text_entropy_kl", // 1-row corpus-total aggregate cross join (as text_tfidf)
            "text_pmi_bigrams", // two 1-row totals (N tokens, N bigrams) cross-joined
            "agg_histogram_equidepth", // 1-row decile-boundary aggregate cross join
            "tpch_q15", // 1-row max-revenue aggregate cross join (scalar frame)
            "ts_changepoint_cusum", // 1-row (mu0, k) reference-frame cross join
            "win_percent_cume", // 1-row percentile_approx bucket-bounds cross
                                // (ScalableWindows two-level row_number)
            "win_rolling_corr", // same 1-row bounds cross (trailing-block machine)
            "agg_mood_median_test", // 1-row grand-median + 1-row margin
                                    // totals broadcast crosses
            "sample_stratified_neyman", // 1-row N*S total + 1-row seat-sum
                                        // crosses onto the |langs| frame
            "ts_lead_lag_corr", // bounded 7-row lag frame crossed onto the
                                // hourly click series
            "agg_rank_biserial", // the rank-test machine's bounds cross
            "agg_yuen_trimmed_ttest", // same machine + |types|-row self
                                      // theta-join of finished aggregates
            "agg_mann_whitney", // |types|-row broadcast cross onto the value domain
            "agg_ks_test", // same |types|-row broadcast cross (shared machine)
            "agg_kruskal_wallis", // 1-row (N, tie-mass) frame crossed onto |types| rows
            "agg_anova_oneway", // 1-row grand-total frame crossed onto |types| rows
            "agg_levene_bf", // same 1-row grand-total cross (ANOVA tail on |x-med|)
            "ts_theil_sen", // grid^2 slope pairs on the bounded HOURLY aggregate
                            // (~720 rows/month) + a 1-row median-slope cross
            "ts_mann_kendall", // same grid^2 sign pairs + two 1-row frames crossed
            "agg_chisq_independence", // 1-row N frame crossed onto the |types|x7 grid
            "pipeline_curriculum_stages_approx", // 1-row quartile-sketch boundary frame
            "agg_histogram_equidepth_approx", // same 1-row boundary frame, sketch-built
            "agg_winsorized_mean", // 1-row [p05,p95] clip-envelope cross join
            "text_lang_id_ngram", // profile-grid build: bounded |bigram vocab| × |langs| cross (≈3.6k rows) + 1-row V aggregate
            "pipeline_mix_temperature", // 1-row n_min aggregate cross-joined onto the tiny per-source spec
            "agg_ab_ttest",  // self-cross of the |types|-row stats aggregate
            "agg_tost_equivalence", // same |types|-row aggregate self-cross
            "agg_effect_size", // same |types|-row aggregate self-cross
            "agg_hll_overlap", // self-cross of the |types|-row sketch aggregate
            "sim_mrl_prefix_rerank", // bounded broadcast query set (as sim_knn)
            "pipeline_label_balance", // 1-row n_min aggregate cross join
            "text_bm25",     // 1-row (N, avgdl) corpus-stats cross join (as text_tfidf)
            "sim_hybrid_rrf", // 1-row broadcast query vector + 1-row |q| aggregate
            "pipeline_shard_skew_audit", // 1-row totals frame crossed onto the <=64-row shard ledger
            "agg_eb_shrinkage", // two 1-row prior frames crossed onto the |users| agg
            "agg_spearman_corr", // two 1-row bucket-bounds crosses (the
                                 // ScalableWindows rank machine, x and y)
            "agg_permutation_test", // 1-row observed-split frame crossed
                                    // onto the 199-row replicate ledger
            "agg_gini_concentration", // 1-row bucket-bounds + 1-row user-
                                      // count crosses (two-level rank)
            "sim_hard_negatives", // bounded broadcast anchor set (as sim_knn)
            "ts_dau_mau_stickiness", // bounded |days|-grid broadcast theta
                                    // join (trailing-30d window)
            "agg_tukey_hsd",  // |types|-row self theta-join of finished
                              // aggregates + 1-row MSW frame cross
            "pipeline_token_budget_mix", // 1-row total/seat frames crossed
                                         // onto the |sources| grid
            "agg_market_basket", // 1-row basket-count frame crossed onto
                                 // the |types|^2 pair grid
            "agg_benford_digits", // 1-row total frame crossed onto the
                                  // 9-digit grid
            "agg_two_proportion_z", // two 1-row arm frames crossed
            "agg_runs_test", // 1-row daily-median frame crossed onto the
                             // bounded day grid
            "sessionize_entry_exit", // 1-row session-count frame crossed
                                     // onto the |types|^2 matrix
            "agg_friedman_test", // 1-row (k, n) frame crossed onto the
                                 // |types|-row rank-sum frame
            "text_term_drift", // 1-row max-doc-id frame + the 100x10
                               // term-decile grid cross (both bounded)
            "agg_lorenz_deciles", // 1-row count/total frames + the rank
                                  // machine's bucket-bounds crosses
            "ts_interarrival_hist", // 1-row gap-count frame crossed onto
                                    // the 8-bucket grid
            "seg_rfm",        // 1-row max-date/count/total frames + the
                              // rank machine's bucket-bounds crosses
            "seg_power_users", // 1-row threshold + totals crosses
            "seg_churn_features", // 1-row corpus-max-date cross
            "seg_migration_matrix" // 1-row user-count cross

          ).contains(key), p)
      }
    }
  }

  test("no corpus-sized unpartitioned WindowExec hides in any plan") {
    // An unpartitioned WindowExec moves its ENTIRE input through one
    // task — invisible at sf0.01, fatal on a 100 TB corpus. The sweep
    // walks every key's pre-AQE physical plan and fails on any window
    // with an empty partitionSpec UNLESS the key's window provably runs
    // on a bounded-by-construction frame (a value/time domain or a
    // top-k slice, never corpus-sized). Mirror of the BNLJ sweep above.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    spark.sharedState.cacheManager.clearCache()
    val allow: Map[String, String] = Map(
      "ts_survival_hazard" -> "<=censorDay(25)-row day grid",
      "sample_stratified_neyman" ->
        "largest-remainder seat rank over the |langs|-row allocation frame",
      "ts_backtest_snaive" -> "|calendar hours| rows (time-bounded, ~720/month)",
      "ts_changepoint_cusum" ->
        "cumsum + running-min over the bounded hourly grid (~720/month)",
      "skyline_pareto" -> "price-domain prefix max (<=|distinct prices| rows)",
      "sim_hybrid_rrf" -> "two rank windows over limit(100) slices",
      "text_vocab_coverage" -> "rank/cumsum over the TakeOrdered top-1024 slice",
      "text_zipf_slope" -> "rank window over the TakeOrdered top-100 slice",
      "pipeline_curriculum_stages" ->
        ("the documented exact anchor (global ntile IS the contract); " +
          "the 100 TB plan is pipeline_curriculum_stages_approx"),
      "pipeline_shard_skew_audit" ->
        "Gini rank over the <=64-row shard ledger (corpus touched only by the shard agg)",
      "agg_bh_fdr" ->
        "BH rank/step-up/suffix-min over the <=|event types|-row p-value frame",
      "agg_sprt_sequential" ->
        "cumulative-LLR window over the bounded day grid (~30 rows/month)",
      "ts_granger_causality" ->
        "lag window over the bounded dense hour grid (~720 rows/month)",
      "agg_gini_concentration" ->
        ("global rank is the contract; the corpus-sized sort runs " +
          "bucket-partitioned, only the 64-row bucket-grid cumsum is " +
          "unpartitioned (ScalableWindows.bucketedRowNumber)"),
      "seg_rfm" ->
        ("round 12: the fused metric-partitioned rank machine has NO " +
          "unpartitioned window left (the grid cumsum partitions by " +
          "metric) — entry kept as documentation of the fusion"),
      "pipeline_token_budget_mix" ->
        "largest-remainder seat rank over the |sources|-row quota frame",
      "ts_peak_detect" ->
        "lag/lead window over the bounded dense hour grid (~720 rows/month)",
      "agg_runs_test" ->
        "sign-change lag over the bounded day grid (~30 rows/month)",
      "agg_lorenz_deciles" ->
        ("user-sized rank runs bucket-partitioned " +
          "(ScalableWindows.bucketedRowNumber); only the 64-row grid " +
          "cumsum and the 10-row decile cumsum are unpartitioned")
    )
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { key =>
      val sp = SparkEntry.queries(key)(spark, sfDir).queryExecution.sparkPlan
      val bad = sp.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      if (bad.nonEmpty && !allow.contains(key)) Some(s"$key: ${bad.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window in: ${offenders.mkString("; ")}")
  }

  test("the shared Jaccard miner stays equi-join shaped within its shuffle budget") {
    // The dedup/kNN/sweep keys now read the session-memoized τ=0 frame
    // (a checkpointed leaf), so the miner's plan shape is pinned HERE on
    // the raw jaccardPairs call instead of through those keys.
    spark.sharedState.cacheManager.clearCache()
    val p = operators.DedupOps
      .jaccardPairs(Tables.t(spark, sfDir, "documents"), tau = 0.6)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("sessionize_native keeps one shuffle for the session aggregation") {
    // one exchange for the user_id hash partitioning; a second would mean
    // the session grouping re-shuffles.
    assert(hashExchanges("sessionize_native") <= 1)
  }

  test("dedup/similarity pipelines stay within their shuffle budgets") {
    // Exchange-count ceilings pinned at the round-2 plan shapes: a future
    // refactor that silently adds a shuffle to one of these pipelines
    // fails here instead of surfacing as a 100 TB regression. Counts are
    // pre-AQE (AQE can only merge/skip these at runtime, never add).
    val ceilings = Map(
      "dedup_exact" -> 1,          // single hash agg on content
      "dedup_ngram_jaccard" -> 3,  // ceiling covers both regimes: cold
                                   // (inline miner) and memo-leaf (0)
      "dedup_simhash" -> 3,        // token count + vocab dedup + per-doc sums
      "dedup_simhash_pairs" -> 6,  // simhash64 chain + band self-join + dedup
      "dedup_near_minhash" -> 9,   // round 10: mine + EXACT-verify pipeline.
                                   // The mining stages live behind the two
                                   // localCheckpoint leaves; the 9 visible
                                   // exchanges are the verify stage's joins/
                                   // aggs over the CANDIDATE-bounded frames
                                   // (pair set + pruned shingles), never a
                                   // corpus shuffle — bounded by the mined
                                   // set size by construction
      "sim_ann_lsh" -> 2,          // ids-only band join; vectors broadcast back
                                   // (+1 round 6: same hot-bucket stats window)
      // round-6 additions (measured at their initial plan shapes):
      "dedup_substring" -> 3,      // (win,doc) agg + df window + per-doc agg
      "dedup_substring_pairs" -> 3, // (win,doc) distinct + df window-collect + pair agg
      "pipeline_quality_gate" -> 1, // one lang-partitioned ntile window
      "pipeline_pack_sequences" -> 1, // one source-partitioned cumsum window + agg reuse
      "text_lm_score" -> 5,        // bigram agg + head agg + doc re-agg; LM broadcast
      "scan_orc_roundtrip" -> 0,   // pure scan
      "funnel_steps" -> 1,         // t1/t2 windows + t3 agg share the user_id
                                   // exchange; the counts are one 1-row agg
      "pipeline_chunk_docs" -> 0,  // pure projection (sequence + slice)
      "sim_ivf_knn" -> 11,         // seed pick + 2 Lloyd assigns + probe ranks
      "sim_pq_knn" -> 56,          // STATIC count: the persisted codebook's
                                   // nested Lloyd lineage re-prints at every
                                   // cache reference (encode + LUT sides).
                                   // At runtime the cache hits, so only the
                                   // ~5 search-side exchanges execute —
                                   // PqSpec's determinism run exercises that.
      "sim_ivfpq_knn" -> 66,       // STATIC count, same cache-lineage inflation
                                   // (IVF index + codebook both persisted);
                                   // runtime = probe + packed-join + rank
      "ts_interpolate" -> 2,       // obs agg + grid join; rn/prev windows and
                                   // the mirrored next window (nextNonNull)
                                   // all reuse the user_id partitioning
      "text_tfidf" -> 4,           // tf agg + df agg + idf attach
      "text_edit_distance" -> 0,   // blocked pairs broadcast-joined
      // round-2 pipelines (measured at their round-2 plan shapes):
      "dedup_cluster" -> 2,        // checkpointed label rounds; broadcast joins
      "tpch_q3" -> 2,              // joins broadcast; one agg shuffle
      "tpch_q10" -> 2,
      "join_bloom_pruned" -> 1,    // bloom scalar subquery + broadcast semi
      "ts_gap_fill" -> 3,          // bucket agg + span agg + grid join
      "dedup_latest_by_key" -> 1,  // single max_by agg
      "multimodal_batch_score" -> 0, // pure mapPartitions projection
      // round-2 second-wave additions:
      "tpch_q5" -> 3,              // fact SMJ on orderkey + nation agg; dims broadcast
      "tpch_q18" -> 3,             // qty agg + order join + (agg partial reuse)
      "text_repetition" -> 2,      // (doc,bigram) agg + doc re-agg
      "sim_quantize_int8" -> 0,    // pure projection — quantization is scan-stage
      "ts_scd2" -> 1,              // both windows share the user_id partitioning
      "fn_bit_scalar" -> 0,        // pure projection
      // TPC-H Q4–Q22 wave (measured at their initial plan shapes):
      "tpch_q4" -> 1,              // semi join rides the scan; one agg shuffle
      "tpch_q6" -> 0,              // pure scan filter + global agg
      "tpch_q7" -> 1,              // all dims broadcast; one group-by shuffle
      "tpch_q8" -> 1,
      "tpch_q12" -> 1,
      "tpch_q13" -> 2,             // per-customer count + histogram re-agg
      "tpch_q14" -> 0,             // part broadcast; single global agg
      "tpch_q15" -> 2,             // supplier-revenue agg appears in both the
                                   // rev branch and its 1-row max scalar
                                   // frame pre-AQE; AQE's ReusedExchange
                                   // collapses them to one at runtime
      "tpch_q17" -> 1,             // decorrelated avg reuses l_partkey agg
      "tpch_q19" -> 0,             // disjunction stays a broadcast-join residual
      "tpch_q21" -> 3,             // ONE fact SMJ (2) + s_name agg; per-(order,
                                   // supp) agg + window reuse the orderkey hash
      "tpch_q22" -> 1,             // anti join + one group-by shuffle
      // round-6 analytics additions:
      "window_ohlc" -> 1,          // one two-phase agg; min_by/max_by fold map-side
      "agg_mode" -> 2,             // partial-count exchange + aggregate-sized window re-key
      "pipeline_domain_mix" -> 1,  // spec distinct only; corpus side is scan→filter
      "funnel_attribution" -> 1,   // tagged union + user window; no self-join
      "cohort_retention" -> 2,     // user window + distinct-user rollup
      "ts_activity_streak" -> 2,   // (user,day) distinct + user window; both
                                   // follow-up aggs reuse the user_id hash
      // third-wave additions:
      "agg_regression" -> 1,       // one two-phase agg carries all 5 moments
      "cdc_merge_upsert" -> 2,     // two latest-per-key aggs; join reuses their partitioning
      "fn_zorder" -> 0,            // pure projection — bit ops codegen inline
      // fourth-wave additions:
      "graph_pagerank" -> 0,       // returns a checkpointed LogicalRDD leaf;
                                   // the K rounds behind it are each one
                                   // edges⋈ranks join + one map-side-combined sum
      "graph_pagerank_converged" -> 0, // same — per-round frames checkpointed
      "text_entropy_kl" -> 7,      // STATIC: (source,w) agg + 3 re-aggs + SMJ
                                   // sides; at runtime AQE broadcasts the
                                   // per-source/vocab dims onto the count frame
      "sample_weighted" -> 2,      // (lang,bkt) spread window + lang top-k on
                                   // the ≤32·k survivors
      "dedup_containment" -> 3,    // same miner (or its memo leaf)
      "dedup_cluster_stats" -> 3,  // labels agg + size re-agg + anti-join union
                                   // (labels side is a checkpointed leaf)
      "text_intradoc_dedup" -> 2,  // (doc,sh) first-occurrence window + doc-
                                   // ordered island windows share one exchange
      "agg_heavy_hitters_mg" -> 0, // two-phase ObjectHashAggregate: only
                                   // ≤(k−1)-entry map partials move (the final
                                   // merge is a SinglePartition exchange)
      "pipeline_dedup_canonical" -> 1, // labels join + one group_id argmax
                                   // window (labels side is a checkpointed leaf)
      "graph_triangles" -> 0,      // triangles() materializes via
                                   // localCheckpoint — the plan is a leaf scan
      "graph_degree_dist" -> 0,    // same localCheckpoint-leaf shape
      "text_pmi_bigrams" -> 3,     // bigram+unigram count aggs + word-key
                                   // join; totals broadcast
      "ts_anomaly_sigma" -> 1,     // one (user, type) window exchange
      "skyline_pareto" -> 1,       // per-price agg; the domain prefix
                                   // scan is SinglePartition by design
      "pipeline_semantic_dedup" -> 1, // group_id window (labels side is
                                   // a checkpointed leaf)
      "graph_cluster_cohesion" -> 0, // materializes via localCheckpoint —
                                   // the returned plan is a leaf scan
      "agg_corr_matrix" -> 1,      // one two-phase agg carries all ten sums
      "ts_ewma" -> 1,              // one (user, type) exchange; the fold is
                                   // a per-group array expression
      "join_asof_forward" -> 1,    // one customer-key exchange — the same
                                   // union-and-scan shape as join_asof, its
                                   // following frame a mirrored running one
      "pipeline_cluster_sample" -> 1, // sizes agg + gate share the group_id
                                   // exchange (labels: checkpointed leaf)
      "join_interval_overlap" -> 3, // orderkey exchange per join side +
                                   // the per-order re-agg
      "agg_histogram_equidepth" -> 2, // boundary agg + bucket agg; the
                                   // bucketing itself is scan-stage
      // round-7 additions (measured at their initial plan shapes):
      "win_running_distinct" -> 2, // (user, type) first-seen + user running sum
      "join_asof_tolerance" -> 1,  // the join_asof union-and-scan exchange
      "join_asof_nearest" -> 1,    // BOTH directional frames share one
                                   // user-key exchange (the forward one is
                                   // nextNonNull's mirrored sort)
      "sim_range_search" -> 0,     // broadcast query ball: pure scan+filter
      "sim_nearest_exemplar" -> 1, // one c_id hash agg; exemplars broadcast
      "pipeline_mix_temperature" -> 2, // per-source counts + spec derivation;
                                   // the corpus gate is scan-stage
      "text_ngram_novelty" -> 3,   // (doc, shingle) distinct + first-seen agg
                                   // + shingle join feeding the doc agg
      "win_rolling_corr" -> 5,     // round 11 trailing-block machine: the
                                   // corpus touches ONE (flag, block)
                                   // window exchange; the other 4 are the
                                   // bucket-grid metadata frames (block
                                   // distinct + lead, per-block counts,
                                   // carry-row join keys) — all ≤ B·|flags|
                                   // rows after their first agg
      "win_zscore" -> 2,           // round 11: stats hash agg + join-back
                                   // keyed exchange (broadcast side is the
                                   // 3-row stats frame)
      "agg_skewness_kurtosis" -> 1, // one widened two-phase agg
      "ts_dow_hour_profile" -> 1,  // one cell-grid two-phase agg
      "agg_entropy_gini" -> 2,     // class agg + flag re-agg (pinned-order fold)
      "agg_weighted_percentile" -> 2, // (flag, value) agg + flag windows;
                                   // the final min reuses the window exchange
      // round-7 second-wave additions:
      "sessionize_stats" -> 1,     // session window + both rollup aggs ride
                                   // the one user_id exchange
      "ts_holt" -> 1,              // one (user, type) exchange; the fold is
                                   // a per-group array expression (ts_ewma shape)
      "ts_autocorr_lag1" -> 1,     // lag window + stats agg share the
                                   // (user, type) hash
      "ts_cusum_changepoint" -> 1, // all three windows ride one
                                   // (user, type) exchange
      "agg_mad" -> 2,              // median agg + deviation agg; the
                                   // medians join back via broadcast
      "graph_kcore" -> 0,          // localCheckpoint leaf (peel rounds
                                   // behind it: degree agg + 2 semi joins each)
      "graph_common_neighbors" -> 0, // localCheckpoint leaf (wedge join +
                                   // count agg + anti join behind it)
      "text_jaccard_knn" -> 4,     // miner (or memo leaf) + the bounded-
                                   // heap TopKAgg exchange (docs×3 pairs,
                                   // round 7: replaced the per-doc window
                                   // that re-shuffled ALL 2×pair rows);
                                   // symmetric expansion is an explode,
                                   // never a union re-plan
      "fn_variant_extract" -> 0,   // pure projection — parse_json +
                                   // variant_get stay scan-stage
      "pipeline_importance_resample" -> 0, // scan-stage score + md5 gate
      "sql_api_pipe" -> 1,         // pipe syntax parses to the same one-agg
                                   // plan as the classic formulation
      "cohort_ltv" -> 3,           // user first-seen window + triangle agg
                                   // + cohort cumsum on the aggregate
      "fn_collation" -> 2,         // distinct-expand agg (two count-distinct
                                   // lanes) over the brand key
      "text_prefix_dup" -> 1,      // dedup_exact's one-agg shape on the prefix
      "multimodal_dedup" -> 1,     // one two-phase agg on the content digest
      "agg_ab_ttest" -> 2,         // per-type stats agg; the pair cross is
                                   // a bounded aggregate self-join
      "dedup_threshold_sweep" -> 4, // miner (or memo leaf) + decile re-agg
      "scan_metadata_cols" -> 0,   // metadata columns generate in the scan
      "agg_percentile_disc" -> 1,  // one two-phase sort-agg on the group key
      "agg_listagg" -> 2,          // DISTINCT expand + ordered-fold re-agg
      "ts_winsorize" -> 1,         // per-type percentile agg; bounds broadcast
                                   // back onto the scan (agg_mad's shape)
      "sessionize_assign" -> 1,    // the shared withSessionSeq user window
      "text_dedup_normalized" -> 1, // one agg on the normalized digest
      "fn_binary_codec" -> 0,      // pure scan-stage codec projection
      "ts_active_users" -> 4,      // (day,user) distinct + two distinct-count
                                   // aggs + the day join; events fan out
                                   // only AFTER the distinct collapse
      // round-7 third-wave additions:
      "join_anti_null_aware" -> 0, // NOT IN plans as a broadcast null-aware
                                   // anti join — probe side never shuffles
      "join_lateral" -> 1,         // decorrelated to rank-window + join:
                                   // one nationkey exchange, no re-execution
      "scan_bucketed_join" -> 1,   // the fact⋈fact join is bucket-colocated
                                   // (zero exchanges); only the final agg shuffles
      "sessionize_dynamic_gap" -> 1, // same single user-key exchange as the
                                   // static session_window
      "ts_transition_matrix" -> 3, // user lead window + pair agg + a window
                                   // over the |types|² aggregate
      "ts_pattern_detect" -> 1,    // both leads and the per-user agg ride
                                   // one user_id exchange
      "agg_audience_overlap" -> 3, // (user,type) distinct + within-user
                                   // self-join re-key + the pair agg
      "dedup_url_canonical" -> 1,  // dedup_exact's one-agg shape on the
                                   // scan-stage canonical key
      "dedup_bloom_screen" -> 0,   // bloom scalar broadcast + broadcast
                                   // semi/anti — the batch never shuffles
      "pipeline_shard_write" -> 1, // the write pays one rangepartitioning;
                                   // query side is the read-back agg
      "sim_ann_rerank" -> 2,       // band equi-join + per-query top-k
                                   // window; embeddings re-attach broadcast
      "fn_xml" -> 0,               // parse + xpath stay scan-stage
      "pipeline_dataset_card" -> 2, // multi-distinct Expand agg on lang;
                                   // everything else folds map-side
      "agg_hll_overlap" -> 2,      // |types| sketch partials + the
                                   // |types|²-row aggregate cross
      "scan_merge_schema" -> 1,    // mergeSchema scan + one lang agg
      "pipeline_epoch_shuffle" -> 1, // one shard-key exchange; order is
                                   // per-shard, never global
      "text_zipf_slope" -> 1,      // corpus word agg; the rank window +
                                   // regression run on the vocab frame
      "multimodal_frame_sample" -> 0, // codec-boundary mapPartitions +
                                   // scan-stage fingerprint; no shuffle
      "multimodal_frame_overlap" -> 3, // (doc,digest) distinct + digest
                                   // self-join + pair agg (miner shape)
      "ts_debounce" -> 1,          // one user exchange; the fold is a
                                   // per-group struct-accumulator expression
      "sim_mrl_prefix_rerank" -> 1, // queries broadcast both stages; the
                                   // two top-k windows share one q_id hash
      "sql_api_parameterized" -> 1, // binds at analysis → same one-agg
                                   // plan as the literal formulation
      "pipeline_incremental_agg" -> 2, // state is a parquet leaf; delta
                                   // agg + the |users|-row merge join
      "ts_active_users_hll" -> 2,  // day-sketch agg + the day re-union on
                                   // the |days|×7 sketch frame
      "sessionize_funnel" -> 1,    // session flags + user rollup ride the
                                   // one withSessionSeq user exchange
      "sim_ann_multiprobe" -> 2,   // band equi-join (probes exploded
                                   // query-side only) + top-k window
      "pipeline_label_balance" -> 2, // class counts + the per-class rank
                                   // window; n_min broadcasts back
      // round-12 additions (measured at their initial plan shapes):
      "seg_rfm" -> 7,              // fused machine: customer agg is a
                                   // checkpointed leaf; per-metric bounds
                                   // + bucket-grid + window + ck pivot +
                                   // segment agg (STATIC; AQE broadcasts
                                   // the tiny grid/bounds sides at runtime)
      "dedup_threshold_sweep_capped" -> 5, // doc-size agg + ONE shingle
                                   // window exchange (df + collect_set
                                   // share it) + pair agg + size joins +
                                   // decile re-agg
      // round-13 capped twins: all ride the SHARED capped miner
      // (cappedTau0Pairs memo leaf once warm; the ceiling covers the
      // cold full-miner plan, same budget as the sweep)
      "dedup_ngram_jaccard_capped" -> 5,  // miner + filter/project only
      "dedup_containment_capped" -> 5,    // miner + filter/project only
      "text_jaccard_knn_capped" -> 6,     // miner + bounded-heap TopKAgg
                                   // exchange (docs×3 pairs, never a
                                   // window over all 2× pair rows)
      "text_contamination_capped" -> 3)   // reads the shingle-partitioned
                                   // thinnedPostings leaf (group-collect
                                   // plans NO new exchange) + pair agg
                                   // + final test_id agg
    for ((key, ceiling) <- ceilings) {
      val n = hashExchanges(key)
      assert(n <= ceiling, s"$key plans $n hash exchanges (ceiling $ceiling)")
    }
  }

  test("composite TPC-H shapes broadcast their dimensions and bound the top-k") {
    for (key <- Seq("tpch_q3", "tpch_q10", "tpch_q5", "tpch_q18")) {
      val p = plan(key)
      assert(p.contains("BroadcastHashJoin"), s"$key:\n$p")
      // q5 ends in a full sort of ≤25 nation rows — no top-k to bound there.
      if (key != "tpch_q5") {
        assert(p.contains("TakeOrderedAndProject"), s"$key:\n$p")
        assert(!p.contains("Exchange rangepartitioning"), s"$key:\n$p")
      }
    }
  }

  test("TPC-H subquery shapes decorrelate into semi/anti joins, never BNLJ") {
    // Q4's EXISTS (with its correlated non-equi date predicate) must
    // become an equi semi join; Q22's NOT EXISTS an anti join. A
    // decorrelation regression would surface as a nested-loop
    // re-execution per outer row — fatal at fact-table scale.
    val q4 = plan("tpch_q4")
    assert(q4.contains("LeftSemi"), q4)
    val q22 = plan("tpch_q22")
    assert(q22.contains("LeftAnti"), q22)
    for (k <- Seq("tpch_q4", "tpch_q17", "tpch_q21", "tpch_q22")) {
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$k:\n$p")
    }
  }

  test("tpch_q21 executes the lineitem⋈orders fact join exactly once") {
    // The EXISTS/NOT EXISTS formulation inlined the `lat` CTE three times
    // (three fact-join executions). The per-orderkey supplier-count
    // rewrite must keep ONE lineitem scan and ONE orders scan — at 100×
    // the fact join is the whole query cost, times the scan count.
    val p = plan("tpch_q21")
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert("orders\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p) // supplier counts ride one window pass
  }

  test("text_contamination shingles the corpus once (single-pass group-collect)") {
    // The per-shingle collect form must keep ONE documents scan and ONE
    // shingle-UDF Generate: the retired filter-then-join form scanned and
    // shingled the full corpus twice (Catalyst pushes the fold filters
    // below any shared exchange, so reuse never materializes).
    val p = plan("text_contamination")
    assert("documents\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.linesIterator.count(l =>
      l.contains("explode(array_distinct(UDF")) == 1, p)
    // The df-ceiling guard (window count over shingle) must ride the
    // group-collect's own exchange: a Window node present, but still only
    // the 3 hash exchanges of the unguarded plan (shingle, pair, test_id).
    assert(p.contains("Window"), p)
    assert(hashExchanges("text_contamination") == 3)
  }

  test("tpch_q6 pushes its whole WHERE clause into the parquet scan") {
    val p = plan("tpch_q6")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), pushed)
  }

  test("scan_hive_partitioned prunes partition directories, not rows") {
    val p = plan("scan_hive_partitioned")
    // the lang predicate must be a PartitionFilter (directory pruning
    // before any file opens), never a post-scan Filter on data rows
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("lang"), s"lang not in PartitionFilters: $pf")
    assert(pf.contains("= en"), pf)
  }

  test("join_bloom_pruned keeps the bloom probe ahead of the semi join") {
    val p = SparkEntry.queries("join_bloom_pruned")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // the might_contain filter must survive optimization as a pre-join
    // prune — if it folds away, the runtime-filter demonstration is gone
    assert(p.contains("might_contain"), p)
    assert(p.contains("Join LeftSemi"), p)
  }

  test("agg_topk_heap aggregates in two phases (map-side truncation)") {
    val p = plan("agg_topk_heap")
    // partial ObjectHashAggregate before the shuffle + final after — the
    // bounded-buffer truncation happens map-side, which is the whole point
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("sim_knn_per_query broadcasts the query-vector side") {
    val p = plan("sim_knn_per_query")
    assert(p.contains("Broadcast"), p)
  }

  test("scans stay on the vectorized parquet reader") {
    for (key <- Seq("scan_parquet", "scan_events_ns", "agg_hash_groupby")) {
      val p = plan(key)
      assert(p.contains("Scan parquet"), s"$key:\n$p")
    }
  }

  test("sim_mmr_diversify's driver page is a TakeOrdered slice of exactly MmrPage rows") {
    // The MMR greedy loop is driver-side and safe ONLY because the
    // collected frame is a top-k page by construction. Pin both halves:
    // the pre-collect plan must be TakeOrderedAndProject (never a global
    // sort or an unbounded scan) with limit = MmrPage, and MmrPage must
    // stay within the driver-page tripwire class (the ivfSearchTable
    // maxDriverProbeRows precedent).
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val sp = operators.SimilarityOps.mmrPageFrame(spark, sfDir)
      .queryExecution.sparkPlan
    val limits = sp.collect { case tk: TakeOrderedAndProjectExec => tk.limit }
    assert(limits == Seq(operators.SimilarityOps.MmrPage),
      s"pre-collect plan is not a single TakeOrdered page:\n$sp")
    assert(operators.SimilarityOps.MmrPage <= 64,
      "MmrPage past the driver-page tripwire — rework the reranker " +
        "before raising it")
  }

  test("no wide-input window runs on a low-cardinality partition key") {
    // Parallelism-FLOOR sweep — the companion of the unpartitioned-
    // WindowExec sweep above, one notch removed: a window partitioned by
    // a key with < Floor distinct values while its input exceeds
    // RowCeiling single-threads a near-corpus cumsum per partition (the
    // round-10 rank-test weak grade: partitionBy(event_type) over the
    // densified value domain = |types| tasks carrying everything).
    // For every logical Window node in every key's optimized plan, the
    // sweep EXECUTES the window's child (sf0.001 — cheap) and measures
    // (input rows, distinct partition tuples); windows sharing a
    // canonical (child, partitionSpec) are measured once.
    // A window flagged at sf0.001 is then RE-MEASURED at sf0.01: a
    // partition key whose cardinality GROWS with the corpus (user_id,
    // session ids, value buckets…) is scale-safe — its parallelism is a
    // function of data size, and 15 users at sf0.001 are millions at
    // 100 TB. Only windows whose key stays flat across the 10× step
    // (a fixed enum like event_type) are true offenders.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    import org.apache.spark.sql.functions.{count_distinct, struct, count, lit}
    import org.apache.spark.sql.graftshim.Shim
    spark.sharedState.cacheManager.clearCache()
    val Floor = 16L
    val RowCeiling = 900L // just under the sf0.001 event count: any
    // corpus-or-wider window input must show >= Floor partition keys
    val GrowthBar = 3L // 10x data must at least 3x the partition keys
    val allow: Map[String, String] = Map.empty
    def measure(w: LWindow): (Long, Long) = {
      val childDf = Shim.ofRows(spark, w.child)
      val pcols = w.partitionSpec.map(Shim.column)
      val r = childDf.agg(count(lit(1)).as("n"),
        count_distinct(struct(pcols: _*)).as("k")).head()
      (r.getLong(0), r.getLong(1))
    }
    def windows(key: String, dir: String): Seq[LWindow] =
      SparkEntry.queries(key)(spark, dir).queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.nonEmpty => w }
    val memo = scala.collection.mutable.Map.empty[LogicalPlan, (Long, Long)]
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { key =>
      val wins = windows(key, sfDir)
      wins.zipWithIndex.flatMap { case (w, i) =>
        val (rows, card) =
          memo.getOrElseUpdate(w.canonicalized, measure(w))
        if (rows > RowCeiling && card < Floor && !allow.contains(key)) {
          // growth probe at 10x: same code path, next scale factor
          val wins10 = windows(key, "/root/testdata/sf0.01")
          val card10 =
            if (i < wins10.size) measure(wins10(i))._2 else card
          if (card10 >= card * GrowthBar) None // corpus-scaling key
          else Some(s"$key: window input $rows rows, $card partition " +
            s"keys at sf0.001 -> $card10 at sf0.01 (flat = enum key)")
        } else None
      }
    }.distinct
    assert(offenders.isEmpty,
      s"parallelism floor violated in: ${offenders.mkString("; ")}")
  }

  test("parallelism-floor sweep detects a synthetic low-cardinality window") {
    // The sweep's own logic must actually fire: a corpus-sized window
    // partitioned by a 5-value key is exactly the shape it exists to
    // catch.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftshim.Shim
    val df = Tables.events(spark, sfDir)
      .withColumn("r", sum(lit(1L)).over(
        Window.partitionBy("event_type").orderBy("ts", "event_id")))
    val wins = df.queryExecution.optimizedPlan
      .collect { case w: LWindow if w.partitionSpec.nonEmpty => w }
    assert(wins.nonEmpty)
    val w = wins.head
    val r = Shim.ofRows(spark, w.child)
      .agg(count(lit(1)).as("n"),
        count_distinct(struct(w.partitionSpec.map(Shim.column): _*)).as("k"))
      .head()
    assert(r.getLong(0) > 900L && r.getLong(1) < 16L,
      s"synthetic window should violate the floor: ${r.mkString(",")}")
  }
}
