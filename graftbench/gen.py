"""Seeded input generator for the graft benchmark.

Writes the tables graft's entry points read (`events`, `documents`,
`embeddings`) with the same schemas as graft's reference test data, plus the
arrival-ordered `stream_events` table the streaming workload replays. Every
byte is a function of (workload, seed): the same seed gives byte-identical
parquet files (one row group, fixed compression, no writer timestamps).

The shapes follow the reference sf0.1 tables (30-word vocabulary, 10-100
word documents, 64-dim unit vectors with 10 labels, five event types, values
around 50, a month of event time) and add the properties graft's operators
are sensitive to:

  * user-key skew: users are drawn from a Zipf law;
  * out-of-order share: a share of events carry a timestamp moved back by
    less than the streaming watermark delay;
  * late share (stream only): a marked share arrives far behind the
    watermark and must be dropped;
  * near-duplicate share: documents copied from an earlier document with a
    few words changed, plus exact copies;
  * boilerplate head: a share of documents open with one fixed phrase, so a
    few shingles are very hot.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
BOILERPLATE = "the query a batch scan the table a key row stream".split()
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
LATE_FROM = 5000

# Per-workload sizes. events_analytics: each event-family key costs about
# 0.4-0.8 s in full on 4 CPUs at this size, nearly all of it planning and
# scheduling, so four timed passes fit one run; the small corpus feeds only
# the SessionMemo probe of its traced run. session_stream: arrivals for the
# fixed-rate phase and the saturation phase (replayed cyclically).
SIZES = {
    "events_analytics": {"events": 3000, "users": 200, "documents": 500,
                         "embeddings": 500},
    "session_stream": {"stream_events": 100_000, "users": 20000},
}

# Input properties (shares are fractions of rows).
PROPS = {
    "zipf_s": 1.1,            # user-key skew exponent
    "out_of_order_share": 0.05,
    "out_of_order_max_s": 300,  # below the 10-minute watermark delay
    "late_share": 0.002,      # stream only; marked, must be dropped
    "late_behind_s": 12 * 3600,
    "near_dup_share": 0.08,
    "exact_dup_share": 0.01,
    "boilerplate_share": 0.25,
    "stream_step_ms": 500,    # event time advanced per arrival
}

WHY = {
    "events_analytics": "closed loop over event-family keys: many short "
                        "queries, so scan, query build and planning dominate",
    "session_stream": "open-loop arrivals into the streaming sessionizer: the "
                      "only workload that writes state and commit logs",
}


def _zipf_users(rng, n, users, s):
    ranks = np.arange(1, users + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    ids = rng.permutation(users).astype(np.int64)  # hot users scattered
    return ids[rng.choice(users, size=n, p=p)]


def _event_columns(rng, n, users):
    user = _zipf_users(rng, n, users, PROPS["zipf_s"])
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return user, etype, value, props


def events_table(rng, n, users):
    span_us = 30 * 86400 * 1_000_000
    base = T0_US + np.sort(rng.integers(0, span_us, n))
    ooo = rng.random(n) < PROPS["out_of_order_share"]
    shift = rng.integers(1, PROPS["out_of_order_max_s"] * 1_000_000, n)
    ts = np.where(ooo, base - shift, base)
    user, etype, value, props = _event_columns(rng, n, users)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def stream_table(rng, n, users):
    """Arrival-ordered stream. `ts` is the event time; `late` marks rows
    stamped far behind the watermark. The first LATE_FROM arrivals carry no
    late rows, so the watermark is established before any late row arrives."""
    step = PROPS["stream_step_ms"] * 1000
    base = T0_US + np.arange(n, dtype=np.int64) * step
    ooo = rng.random(n) < PROPS["out_of_order_share"]
    shift = rng.integers(1, PROPS["out_of_order_max_s"] * 1_000_000, n)
    late = (rng.random(n) < PROPS["late_share"]) & (np.arange(n) >= LATE_FROM)
    ts = np.where(ooo, base - shift, base)
    ts = np.where(late, base - PROPS["late_behind_s"] * 1_000_000, ts)
    user, etype, value, props = _event_columns(rng, n, users)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
        "late": pa.array(late),
    })


def documents_table(rng, n):
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < PROPS["exact_dup_share"]:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 0 and r < PROPS["exact_dup_share"] + PROPS["near_dup_share"]:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            for k in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[k] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
            langs.append(langs[j])
            continue
        words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        if rng.random() < PROPS["boilerplate_share"]:
            words = BOILERPLATE + words
        texts.append(" ".join(words))
        langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    vec = centers[label] + rng.normal(0, 1.5, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(workload, seed, out_dir):
    """Write the workload's tables under out_dir; return the manifest."""
    sizes = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    tables = {}
    if "events" in sizes:
        tables["events"] = events_table(rng, sizes["events"], sizes["users"])
    if "documents" in sizes:
        tables["documents"] = documents_table(rng, sizes["documents"])
        tables["embeddings"] = embeddings_table(rng, sizes["embeddings"])
    if "stream_events" in sizes:
        tables["stream_events"] = stream_table(rng, sizes["stream_events"], sizes["users"])
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t.replace_schema_metadata(None), path,
                       compression="snappy", row_group_size=len(t) or 1)
        with open(path, "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    manifest = {"workload": workload, "seed": seed, "why": WHY[workload],
                "rows": {k: len(v) for k, v in tables.items()},
                "props": PROPS, "sha256": digests}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
