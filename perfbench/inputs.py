"""Seeded input generation and the DuckDB reference answers.

Inputs are written with numpy + pyarrow, never with Spark, so that the
benchmark's JVM is still cold when its first rep starts and so that
generation time never leaks into ``setup_s`` or a rep.

Every table lands under ``<work>/inputs/<key>/`` where the key hashes the
workload's generator parameters and the seed, so a changed size never
reuses stale files. The reference answers are computed once per
(workload, seed) over the same files and stored next to them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch micros
DAY_US = 86_400_000_000
SEQ_BUCKETS = 8  # also the benchmark's pinned shuffle width (run.SHUFFLE_WIDTH)
FILES_PER_TABLE = 8

# Generator parameters per workload. Changing any value changes the cache key.
PARAMS = {
    # 20k docs x (12 events + 2 probes) = 280k rows; one doc_id holds 5% of
    # them (14k), far below the 1M-row spill floor, so 0 keys are routed
    "flagship": {"kind": "flagship", "n_docs": 20_000, "events_per_doc": 12,
                 "probes_per_doc": 2, "hot_pct": 5, "max_tokens": 64},
    # 20k docs x (75 events + 2 probes) = 1.54M rows; one doc_id holds 88% of
    # them (1.36M): 35% above the 1M-row spill floor, and above total/cores
    # on 2 or more cores, so exactly 1 key is routed there. On 1 core no
    # key can exceed total/cores, and none is routed.
    "flagship-skewed": {"kind": "flagship", "n_docs": 20_000, "events_per_doc": 75,
                        "probes_per_doc": 2, "hot_pct": 88, "max_tokens": 64},
    # driver `events` schema; clicks are the probes. 60k rows in total can
    # never clear the 1M-row spill floor, so 0 keys are routed
    "featuregen": {"kind": "events", "n_events": 60_000, "click_pct": 20,
                   "n_users": 10_000},
}
# hot keys each workload must route; a rep that routes another number fails
ROUTED = {"flagship": 0, "flagship-skewed": 1, "featuregen": 0}


def cache_key(workload: str, seed: int) -> str:
    blob = json.dumps({"params": PARAMS[workload], "seed": seed,
                       "buckets": SEQ_BUCKETS, "files": FILES_PER_TABLE},
                      sort_keys=True)
    return f"{workload}-{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:12]}"


# -- Spark-compatible bucket ids ------------------------------------------

_M32 = np.uint64(0xFFFFFFFF)


def _rotl(x, r):
    return ((x << np.uint64(r)) | (x >> np.uint64(32 - r))) & _M32


def _mix_k1(k):
    k = (k * np.uint64(0xCC9E2D51)) & _M32
    k = _rotl(k, 15)
    return (k * np.uint64(0x1B873593)) & _M32


def _mix_h1(h, k):
    h = _rotl(h ^ k, 13)
    return (h * np.uint64(5) + np.uint64(0xE6546B64)) & _M32


def spark_string_hash(values: np.ndarray) -> np.ndarray:
    """Spark's ``hash()`` (Murmur3_x86_32.hashUnsafeBytes, seed 42) of
    equal-length ASCII strings, as uint32. Spark mixes the bytes after the
    last whole 4-byte word one at a time, unlike reference Murmur3."""
    raw = np.asarray(values, dtype="S").view(np.uint8)
    width = np.asarray(values, dtype="S").itemsize
    raw = raw.reshape(-1, width).astype(np.uint64)
    h = np.full(raw.shape[0], 42, dtype=np.uint64)
    aligned = width - width % 4
    for i in range(0, aligned, 4):
        word = raw[:, i] | (raw[:, i + 1] << np.uint64(8)) \
            | (raw[:, i + 2] << np.uint64(16)) | (raw[:, i + 3] << np.uint64(24))
        h = _mix_h1(h, _mix_k1(word))
    for i in range(aligned, width):
        h = _mix_h1(h, _mix_k1(raw[:, i]))
    h ^= np.uint64(width)
    h ^= h >> np.uint64(16)
    h = (h * np.uint64(0x85EBCA6B)) & _M32
    h ^= h >> np.uint64(13)
    h = (h * np.uint64(0xC2B2AE35)) & _M32
    h ^= h >> np.uint64(16)
    return h


def bucket_ids(doc_ids: np.ndarray, buckets: int = SEQ_BUCKETS) -> np.ndarray:
    # 2**32 is a multiple of the bucket count, so the unsigned residue
    # equals Spark's pmod of the signed hash
    return (spark_string_hash(doc_ids) % np.uint64(buckets)).astype(np.int64)


# -- generators -----------------------------------------------------------

def _doc_ids(n: int) -> np.ndarray:
    return np.char.add("doc", np.char.zfill(np.arange(n).astype(str), 12))


def _pick(values, idx: np.ndarray) -> pa.Array:
    """String column ``values[idx]`` without building numpy strings per row."""
    return pa.array(values).take(pa.array(idx))


def _write_split(table: pa.Table, d: str, files: int = FILES_PER_TABLE) -> None:
    os.makedirs(d)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(d, f"part-{f:05d}.parquet"))


def _gen_flagship(root: str, p: dict, rng: np.random.Generator) -> None:
    n_docs = p["n_docs"]
    docs = _doc_ids(n_docs)

    # sequences: one sorted file per Spark bucket, named like Spark names them
    n_tok = rng.integers(1, p["max_tokens"] + 1, n_docs).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, 32768, int(offsets[-1]), dtype=np.int32)))
    src_u = rng.integers(0, 100, n_docs)
    source = _pick([f"src{i}" for i in range(10)], np.where(src_u < 50, 0, 1 + src_u % 9))
    seqs = pa.table({"doc_id": docs, "tokens": tokens, "n_tok": n_tok, "source": source})
    bucket = bucket_ids(docs)
    order = np.argsort(bucket, kind="stable")  # stable: doc_id order within a bucket
    seqs = seqs.take(pa.array(order))
    bounds = np.searchsorted(bucket[order], np.arange(SEQ_BUCKETS + 1))
    sdir = os.path.join(root, "sequences")
    os.makedirs(sdir)
    for b in range(SEQ_BUCKETS):
        pq.write_table(seqs.slice(bounds[b], bounds[b + 1] - bounds[b]),
                       os.path.join(sdir, f"part-00000_{b:05d}.c000.parquet"))

    # seq_events: whole-second timestamps over 30 days, one hot doc
    n_ev = n_docs * p["events_per_doc"]
    hot = rng.integers(0, 100, n_ev) < p["hot_pct"]
    ev_doc = np.where(hot, 0, rng.integers(0, n_docs, n_ev))
    ev_us = BASE_US + rng.integers(0, 30, n_ev) * DAY_US + rng.integers(0, 86_400, n_ev) * 1_000_000
    fvalue = rng.integers(0, 1_000_000, n_ev) / 1000.0
    fvalue_arr = pa.array(fvalue, mask=rng.integers(0, 100, n_ev) < 10)
    fcat = _pick([f"cat{i}" for i in range(5)], rng.integers(0, 5, n_ev))
    _write_split(pa.table({
        "doc_id": _pick(docs, ev_doc),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "fvalue": fvalue_arr,
        "fcat": fcat,
    }), os.path.join(root, "seq_events"))

    # probes: derived from a picked event so exact ties, just-after,
    # before-first and after-last cases all occur
    n_pr = n_docs * p["probes_per_doc"]
    pick = rng.integers(0, n_ev, n_pr)
    kind = rng.integers(0, 4, n_pr)
    asof_us = np.select(
        [kind == 0, kind == 1, kind == 2],
        [ev_us[pick], ev_us[pick] + 1_000_000, np.full(n_pr, BASE_US - 3_600_000_000)],
        BASE_US + 40 * DAY_US,
    )
    _write_split(pa.table({
        "doc_id": _pick(docs, ev_doc[pick]),
        "asof_ts": pa.array(asof_us, pa.timestamp("us")),
    }), os.path.join(root, "probes"))


def _gen_events(root: str, p: dict, rng: np.random.Generator) -> None:
    n = p["n_events"]
    is_click = rng.integers(0, 100, n) < p["click_pct"]
    etype = np.where(is_click, 0, 1 + rng.integers(0, 3, n))
    value = rng.integers(0, 100_000, n) / 100.0
    _write_split(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(BASE_US + rng.integers(0, 30 * 86_400, n) * 1_000_000, pa.timestamp("us")),
        "user_id": rng.integers(0, p["n_users"], n),
        "event_type": _pick(["click", "view", "cart", "purchase"], etype),
        "value": pa.array(value, mask=rng.integers(0, 100, n) < 5),
        "props": _pick([f"p{i}" for i in range(100)], rng.integers(0, 100, n)),
    }), os.path.join(root, "events.parquet"))


# -- DuckDB reference -----------------------------------------------------

def duckdb_connect():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _reference(root: str, kind: str) -> dict:
    con = duckdb_connect()
    if kind == "events":
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{root}/events.parquet/*.parquet') "
            "WHERE event_type = 'click'").fetchone()[0]
        return {"rows": int(n)}
    # Only aggregates that do not depend on the order of tied timestamps:
    # which of two tied probes opens a session is arbitrary, but the number
    # of sessions per doc (its largest session_id) is not.
    rows, matched = con.execute(f"""
        SELECT count(*), count(e.ts)
        FROM read_parquet('{root}/probes/*.parquet') p ASOF LEFT JOIN
             (SELECT doc_id, ts FROM read_parquet('{root}/seq_events/*.parquet')) e
          ON p.doc_id = e.doc_id AND e.ts <= p.asof_ts
    """).fetchone()
    sess = con.execute(f"""
        WITH p AS (SELECT DISTINCT doc_id, asof_ts FROM read_parquet('{root}/probes/*.parquet')),
        d AS (SELECT CASE WHEN lag(asof_ts) OVER w IS NULL
                            OR epoch_us(asof_ts) - epoch_us(lag(asof_ts) OVER w) > 3600000000
                       THEN 1 ELSE 0 END AS is_new
              FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY asof_ts))
        SELECT sum(is_new) FROM d
    """).fetchone()[0]
    return {"rows": int(rows), "matched": int(matched), "sessions": int(sess)}


def ensure_inputs(work: str, workload: str, seed: int) -> tuple[str, dict, float]:
    """(input root, reference answers, generation seconds; 0.0 on a cache hit)."""
    root = os.path.join(work, "inputs", cache_key(workload, seed))
    done = os.path.join(root, "_DONE.json")
    if os.path.exists(done):
        with open(done) as fh:
            return root, json.load(fh), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    p = PARAMS[workload]
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    (_gen_flagship if p["kind"] == "flagship" else _gen_events)(root, p, rng)
    ref = _reference(root, p["kind"])
    with open(done, "w") as fh:
        json.dump(ref, fh)
    return root, ref, time.perf_counter() - t0
