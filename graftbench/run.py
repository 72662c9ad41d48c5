#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed on full results.

Usage (from the repository root):

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see gen.py for the inputs and why each was chosen):

  events_analytics  closed loop, one client: event-family keys of
                    graft.SparkEntry.queries over the `events` table, once
                    per pass, each result written whole to Spark's noop sink.
  session_stream    open loop, one generator thread: seeded arrivals appended
                    on a fixed schedule into graft.streaming.StreamingSessions
                    .sessionize, with a local checkpoint.

Sessions run local[N] with N = the CPUs this process may use, shuffle
partitions = N, graft's SQL extensions installed and UTC, as graft's README
tells users to configure them.

End-to-end metrics (--trace 0), printed for every workload:

  setup_s               input generation, then from the launch of the JVM
                        under test to its first timed operation: JVM start,
                        session creation, input registration and warm-up
                        (batch: two untimed passes; stream: a few seconds
                        at the fixed rate and one backlog)
  pass_s                median time to produce the workload's complete
                        result once: batch, every key once (at least four
                        passes); stream, the on-time arrivals of the
                        fixed-rate phase replayed as one backlog until every
                        closed session is emitted
  query_s_p50/p95       latency of one operation: batch, one (key, pass) from
                        calling the key's query to the noop write returning;
                        stream, one micro-batch at the fixed rate
  stream_sustained_eps  stream: events/s that micro-batches turn into
                        sessions while the query is saturated (a chunk of
                        arrivals is always waiting when a batch ends, so it
                        never waits for input), median over those batches;
                        batch: events consumed per second by the closed
                        loop (events x keys run / time spent)
  emit_latency_ms_p50/p99
                        stream: time from the due time of the arrival whose
                        watermark advance closes a session to that session
                        reaching the sink (gap and watermark delay excluded),
                        at the fixed rate; batch: time from the start of a
                        pass, when all its input is there, to each key's
                        complete result reaching the sink
  peak_rss_mb           peak resident memory of the JVM under test

Failed operations (queries, micro-batches, correctness mismatches) are the
result line's `failed` out of `attempted`; failed_frac = failed / attempted.
A failed operation is never reported as a time.

Per-layer metrics (--trace 1) come from a separate traced run: spans around
the calls into each layer, a SparkListener, Spark's planning tracker and rule
meter, StreamingQueryProgress, and SparkContext.getRDDStorageInfo. Spans are
written to spans.jsonl in the run directory.

The correctness gate runs in every run, untimed: oracle keys are compared
with DuckDB running SparkEntry.oracleSql over the same generated tables;
other keys must finish without error; the stream must emit exactly the batch
twin's sessions (Sessionization.nativeSessions over the on-time arrivals) for
every session closed before the final watermark, and drop exactly the marked
late arrivals. The last stdout line is the JSON result; the exit code is 0
only when the run is correct.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("events_analytics", "session_stream")
E2E = {
    "setup_s": "s", "pass_s": "s", "query_s_p50": "s", "query_s_p95": "s",
    "stream_sustained_eps": "events/s", "emit_latency_ms_p50": "ms",
    "emit_latency_ms_p99": "ms", "peak_rss_mb": "MB",
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + [
    # A fixed collector and heap shape, so collections come at the same
    # points in every run (a growing heap made latencies unsteady). The
    # heap is reserved, not pre-touched: a page becomes resident only when
    # the program first uses it, so peak RSS follows the program's memory.
    "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-UseAdaptiveSizePolicy",
    "-Dspark.ui.enabled=false"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles, to skip unchanged builds."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src/main/scala/**/*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt, once per source state."""
    target = os.path.join(BENCH, "target")
    stamp = os.path.join(target, "graftbench.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("graftbench: build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def run_jvm(classpath, workload, data, work, seconds, trace, cpus):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                  "graftbench.Main", workload, data, work, str(seconds),
                                  str(trace), str(cpus)])
    with open(os.path.join(work, "jvm.log"), "wb") as logf:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("graftbench: the JVM did not finish in time")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: the JVM exited with code {rc}")
    with open(result) as f:
        res = json.load(f)
    res["jvm_setup_s"] = res["ready_ms"] / 1e3 - launched
    return res


def e2e_metrics(res, manifest, gen_s):
    m = {"setup_s": gen_s + res["jvm_setup_s"], "peak_rss_mb": res["peak_rss_mb"]}
    if res["workload"] == "session_stream":
        m["pass_s"] = statistics.median(res["replay_s"])
        m["query_s_p50"] = layers.pct(res["batch_ms"], 50) / 1e3
        m["query_s_p95"] = layers.pct(res["batch_ms"], 95) / 1e3
        m["stream_sustained_eps"] = res["sustained_eps"]
        m["emit_latency_ms_p50"] = layers.pct(res["emit_latency_ms"], 50)
        m["emit_latency_ms_p99"] = layers.pct(res["emit_latency_ms"], 99)
    else:
        lat = [o["s"] for o in res["ops"]]
        done = [o["done_s"] * 1e3 for o in res["ops"]]
        m["pass_s"] = statistics.median(p["s"] for p in res["passes"])
        m["query_s_p50"] = layers.pct(lat, 50)
        m["query_s_p95"] = layers.pct(lat, 95)
        m["stream_sustained_eps"] = manifest["rows"]["events"] * len(lat) / sum(lat)
        m["emit_latency_ms_p50"] = layers.pct(done, 50)
        m["emit_latency_ms_p99"] = layers.pct(done, 99)
    return m


def result_line(res, checks, metrics, units):
    """The result object: every failed operation or oracle mismatch counts
    in `failed` and makes the run incorrect."""
    failures = list(res["failures"]) + [{"key": k, "error": e} for k, e in checks.items() if e]
    for f in failures:
        log(f"FAILED {f.get('key')}: {f.get('error')}")
    return {"correct": not failures, "attempted": res["attempted"] + len(checks),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: graft's sources (src/main/scala/graft) are not "
                         "next to the benchmark; run it from a graft checkout")
    classpath = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    manifest = gen.generate(args.workload, args.seed, data)
    gen_s = time.perf_counter() - t0
    log(f"{args.workload} seed {args.seed}: rows {manifest['rows']}; {manifest['why']}")

    res = run_jvm(classpath, args.workload, data, work, args.seconds, args.trace, cpus)
    checks = {}
    if res["workload"] != "session_stream":
        checks = oracle.check(os.path.join(work, "gate"), data)
        log(f"oracle gate: {sum(1 for e in checks.values() if not e)}/{len(checks)} "
            "keys match DuckDB")
    for key, ratio in sorted(res.get("layers", {}).get("detail.count_over_full", {}).items()):
        log(f"count()/full time {key}: {ratio:.3f}")
    try:
        metrics = layers.layer_metrics(res) if args.trace else e2e_metrics(res, manifest, gen_s)
    except (ValueError, KeyError, ZeroDivisionError):
        if not res["failures"]:
            raise
        metrics = {}  # a failed run may lack samples; it reports no metric
    out = result_line(res, checks, metrics, layers.LAYER_UNITS if args.trace else E2E)
    for k, v in out["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
