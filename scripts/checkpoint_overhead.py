"""Measure the resumable-checkpoint overhead on the production path
(round-3 verdict task: jobs/featuregen.py is resume-tested but was never
benched).  Same materialized corpus, same pipeline, two sinks:

  straight — flagship pipeline once, single hive-partitioned write
             (the bench.py flagship_compute + flagship_write_io shape)
  staged   — the jobs/featuregen.py shape: the input staged once by
             chunk (``featuregen.stage_inputs``, timed), then P
             hash-partitions committed atomically in chunks by the job's
             own chunk loop (``featuregen.run_chunks``: per-chunk pipeline
             build and write, two chunks in flight, journal in chunk order)

Usage:

    AFG_BENCH_DOCS=8000000 python scripts/checkpoint_overhead.py [cores] \
        [partitions] [chunk_size]

Prints one JSON line: {"straight_s": ..., "staged_s": ...,
"staged_overhead_pct": ...}. A run worth keeping becomes a new dated
checkpoint-overhead section in BENCH/HISTORY.md.  The outputs go to a
temporary directory, removed at exit.  Run it alone on the host — never overlapped with
another bench (shared memory bandwidth corrupts both).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from engine import cache
from engine.checkpoint import CheckpointManager, ParquetJournalTableIO, with_partition_id
from engine.io import write_partitioned
from jobs.featuregen import build_features, run_chunks, stage_inputs


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    partitions = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    chunk_size = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = bench.get_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    root = bench.ensure_corpus(spark, bench.BENCH_DOCS)

    probes = spark.read.parquet(os.path.join(root, "probes"))
    state = spark.read.parquet(os.path.join(root, "seq_events"))
    seqs = bench.read_sequences(spark, root, bench.BENCH_DOCS)
    probes = probes.join(seqs.select("doc_id", "n_tok", "source"), "doc_id", "left")
    entity, probe_ts, values = "doc_id", "asof_ts", ["fvalue", "fcat"]

    from engine.skew import straggler_hot_keys

    keys = probes.select(entity).unionByName(state.select(entity))
    hot_keys = straggler_hot_keys(keys, entity, keys.count(), cores=cores,
                                  sample_fraction=0.05)

    def build(p, s):
        feat, _plan = build_features(
            p, s, entity, probe_ts, values, "30 minutes", [1],
            hot_keys=hot_keys,
        )
        return feat

    with tempfile.TemporaryDirectory(prefix="afg_ckpt_overhead-") as out_root:
        # warmup (codegen + page cache), untimed — same protocol as flagship_ab
        bench.materialize(build(probes, state))
        cache.release_all()
        spark.catalog.clearCache()

        # straight: one pipeline, one partitioned write
        t0 = time.time()
        feat = build(probes, state)
        write_partitioned(feat, os.path.join(out_root, "straight"), "source",
                          max_records_per_file=4_000_000)
        straight_s = round(time.time() - t0, 2)
        cache.release_all()
        spark.catalog.clearCache()

        # staged: the featuregen input path and chunk loop — chunk-partitioned
        # input copies written once (timed as part of this leg), chunk scans
        # partition-prune to their chunk, per-chunk plan build + atomic commit.
        lineage = {"inputs": {"corpus": root}, "params": {"partitions": partitions}}
        t0 = time.time()
        sp_p, ss_p = stage_inputs(
            spark,
            with_partition_id(probes, entity, partitions),
            with_partition_id(state, entity, partitions),
            os.path.join(out_root, "staged_in"), chunk_size, partitions,
        )
        mgr = CheckpointManager(
            ParquetJournalTableIO(os.path.join(out_root, "chunked_staged")), partitions)
        for _ in run_chunks(mgr, sp_p, ss_p, chunk_size,
                            lambda p, s: (build(p, s), lineage)):
            pass
        staged_s = round(time.time() - t0, 2)

    print(json.dumps({
        "cores": cores,
        "bench_docs": bench.BENCH_DOCS,
        "partitions": partitions,
        "chunk_size": chunk_size,
        "straight_s": straight_s,
        "staged_s": staged_s,
        "staged_overhead_pct": round((staged_s / straight_s - 1) * 100, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
