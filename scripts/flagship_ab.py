"""Run the flagship job only (no headline queries, no ANN) at one core
count — used to isolate shuffle-disk vs engine effects when tuning the
scaling protocol. Each rep follows the scaling legs' protocol
(``bench.run_flagship``). Usage:

    AFG_SHUFFLE_TMPFS=1 python scripts/flagship_ab.py <cores> [reps]

Prints one JSON line: {"cores": N, "tmpfs": bool, "reps": [...], "best": s,
"seq_per_s": ..., "reps_start_ms": ...}; ``reps_start_ms`` is the
``scripts/tasksum.py --after`` fence that excludes warmup and corpus prep.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = bench.get_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    root = bench.ensure_corpus(spark, bench.BENCH_DOCS)
    hot_keys, hot_rows = bench.route_hot_keys(spark, root, cores)
    reps, _, reps_start_ms = bench.run_flagship(spark, root, hot_keys, hot_rows, n_reps)
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
