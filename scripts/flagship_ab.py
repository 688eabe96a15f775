"""A/B the flagship job only (no headline queries, no ANN) at one core
count — used to isolate shuffle-disk vs engine effects when tuning the
scaling protocol.  Usage:

    AFG_SHUFFLE_TMPFS=1 python scripts/flagship_ab.py <cores> [reps]

Prints one JSON line: {"cores": N, "tmpfs": bool, "reps": [...], "best": s}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from engine import cache as _cache


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = bench.get_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    root = bench.ensure_corpus(spark, bench.BENCH_DOCS)

    from engine import hotwin
    from engine.skew import straggler_hot_keys

    p = spark.read.parquet(os.path.join(root, "probes"))
    e = spark.read.parquet(os.path.join(root, "seq_events"))
    keys = p.select("doc_id").unionByName(e.select("doc_id"))
    hot = straggler_hot_keys(
        keys, "doc_id", keys.count(), cores=cores, sample_fraction=0.05,
    )
    seqs = bench.read_sequences(spark, root, bench.BENCH_DOCS)
    hot_rows = (
        seqs.where(hotwin.hot_predicate("doc_id", hot)).collect() if hot else []
    )

    # warm (codegen + page cache), untimed
    out, stats = bench.flagship_pipeline(
        spark, root, strategy="hybrid", hot_keys=hot, hot_rows=hot_rows
    )
    bench.materialize(out)
    bench.materialize(stats)

    from concurrent.futures import ThreadPoolExecutor

    # fence for scripts/tasksum.py --after: only tasks launched from here on
    # belong to the timed reps (warmup + corpus prep excluded)
    reps_start_ms = int(time.time() * 1000)
    reps = []
    for _ in range(n_reps):
        _cache.release_all()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        out, stats = bench.flagship_pipeline(
            spark, root, strategy="hybrid", hot_keys=hot, hot_rows=hot_rows
        )
        with ThreadPoolExecutor(max_workers=2) as ex:
            f1 = ex.submit(bench.materialize, out)
            f2 = ex.submit(bench.materialize, stats)
            f1.result()
            f2.result()
        reps.append(round(time.time() - t0, 3))
    print(json.dumps({
        "cores": cores,
        "tmpfs": os.environ.get("AFG_SHUFFLE_TMPFS", "0") == "1",
        "reps": reps,
        "best": min(reps),
        "seq_per_s": round(bench.BENCH_DOCS / min(reps), 1),
        "reps_start_ms": reps_start_ms,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
