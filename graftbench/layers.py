"""Per-layer metrics of a traced run, reduced from the harness's raw result.

Every metric is printed for every workload; a layer a workload does not use
reads 0 there (the batch workload runs no stream, the stream workload no
memo). Batch metrics are per pass; memo metrics come from the memo probe of
the batch workload's traced run, per fresh session.
"""
import statistics

FUNCTIONS = ("FloatVecDot", "ArgMaxDot", "CdcChunks", "Md5Lanes", "PqAdcScore",
             "FloatLshBands", "TopKAgg", "MisraGriesAgg", "WeightedAvgAgg")
MEMOS = ("tau0Pairs", "thinnedPostings", "cappedTau0Pairs", "corpusBanded64",
         "corpusSimhashPairs", "corpusLabelsFull", "corpusLabels80", "nearDupPairs",
         "bpeMergesFor")

LAYER_UNITS = {
    "sessions.start_s": "s",
    "tables.scan_s": "s", "tables.read_mb": "MB", "tables.scan_tasks": "count",
    "entry.build_s": "s", "entry.eager_jobs": "count",
    "plan.s": "s", "plan.exchanges": "count", "plan.graft_rule_effective": "count",
    "plan.graft_rule_runs": "count",
    "exec.s": "s", "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.gc_s": "s",
    "exec.busy_frac": "ratio", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_skew_max": "ratio", "exec.count_over_full": "ratio",
    "exec.count_over_full_p50": "ratio",
    **{f"functions.{f}.mrows_per_s": "Mrows/s" for f in FUNCTIONS},
    **{f"memo.build_s.{m}": "s" for m in MEMOS},
    "memo.retained_mem_mb": "MB", "memo.retained_disk_mb": "MB",
    "memo.retained_disk_mb_per_pass": "MB", "memo.retained_mem_mb_per_pass": "MB",
    "memo.consumers_per_build": "ratio",
    "memo.builds": "count",
    "stream.batch_ms_p50": "ms", "stream.batch_ms_p99": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.state_commit_ms": "ms", "stream.late_dropped": "count",
    "stream.backlog_rows": "count", "stream.watermark_lag_s": "s",
    "stream.generator_late_ms": "ms", "stream.saturated_frac": "ratio",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "scale.local1_pass_s": "s", "scale.speedup": "ratio",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.remainder_s": "s",
    "trace.overhead_frac": "ratio",
}


def pct(xs, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q / 100 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(res):
    m = {k: 0.0 for k in LAYER_UNITS}
    m["sessions.start_s"] = res["sessions_start_s"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m.update({k: v for k, v in res.get("layers", {}).items() if k in LAYER_UNITS})
    if res["workload"] == "session_stream":
        prog = res["progress"]
        m["stream.batch_ms_p50"] = pct([p["batch_ms"] for p in prog], 50)
        m["stream.batch_ms_p99"] = pct([p["batch_ms"] for p in prog], 99)
        m["stream.add_batch_ms"] = _median(p["add_batch_ms"] for p in prog)
        m["stream.wal_commit_ms"] = _median(p["wal_commit_ms"] for p in prog)
        m["stream.state_rows"] = _median(p["state_rows"] for p in prog)
        m["stream.state_mb"] = _median(p["state_bytes"] for p in prog) / 1048576
        m["stream.state_commit_ms"] = _median(p["state_commit_ms"] for p in prog)
        m["stream.late_dropped"] = res["late_dropped"]
        m["stream.backlog_rows"] = _median(p["backlog"] for p in prog)
        m["stream.watermark_lag_s"] = _median(
            p["watermark_lag_s"] for p in prog if p["watermark_lag_s"] is not None)
        m["stream.generator_late_ms"] = pct(res["generator_late_ms"], 99)
        m["stream.saturated_frac"] = res["saturated_frac"]
        m["jvm.gc_s"] = res["gc_s"]
        m["trace.pass_s"] = _median(res["replay_s"])
        m["trace.untraced_pass_s"] = m["trace.pass_s"]
    else:
        m["jvm.gc_s"] = res["gc_s_per_pass"]
    if m["trace.untraced_pass_s"] > 0 and m["scale.local1_pass_s"] > 0:
        m["scale.speedup"] = m["scale.local1_pass_s"] / m["trace.untraced_pass_s"]
    return m
