"""Sensitivity check for the cost-based straggler-routing thresholds
(engine/skew.py::straggler_hot_keys — r3 verdict task #8: spill_floor=1M
and the 8x makespan slack are host-calibrated constants; this experiment
keeps them honest).

Two measurements at one corpus size + core count:

1. **Wall A/B at the decision boundary** — the flagship with routing
   FORCED ON (hot keys time-bucketed) vs FORCED OFF (plain fused chain),
   best-of-reps. The sign of (plain − routed) says which choice is right
   at this scale; the cost model is honest iff its default decision picks
   the measured-faster side at every corpus size. (The 2026-08-19 run of
   this experiment found the original ``total/(8·cores)`` slack routing a
   below-per-core-share key at 8M docs into a 19 % loss — the bar is now
   ``total/cores``; see engine/skew.py::straggler_threshold.)
2. **Floor sweep (model-only, no runs)** — for each candidate spill_floor,
   whether the decision flips, given the exact hot-key count and the
   makespan bar. Shows how far the floor can move before the decision
   changes, i.e. how sensitive the routing is to the calibrated constant.

Usage:
    AFG_BENCH_DOCS=500000  AFG_SHUFFLE_TMPFS=1 python scripts/straggler_sensitivity.py 16 2
    AFG_BENCH_DOCS=8000000 AFG_SHUFFLE_TMPFS=1 python scripts/straggler_sensitivity.py 16 2
    # the routing-wins side of the boundary (hot key > per-core share):
    AFG_BENCH_DOCS=2000000 AFG_BENCH_HOT_PCT=20 AFG_SHUFFLE_TMPFS=1 \
        python scripts/straggler_sensitivity.py 16 3

Prints ONE JSON line; a run worth keeping goes into a new dated
straggler-sensitivity section of BENCH/HISTORY.md (bench.py renders no
record of it).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from engine import cache as _cache
from engine import hotwin

FLOORS = [250_000, 500_000, 1_000_000, 2_000_000, 4_000_000, 8_000_000]


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = bench.get_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    root = bench.ensure_corpus(spark, bench.BENCH_DOCS)

    from pyspark.sql import functions as F

    from engine.skew import straggler_hot_keys, straggler_threshold

    p = spark.read.parquet(os.path.join(root, "probes"))
    e = spark.read.parquet(os.path.join(root, "seq_events"))
    keys = p.select("doc_id").unionByName(e.select("doc_id"))
    total = keys.count()
    # exact top-key count (the experiment's ground truth; the production
    # path uses the sampled estimate)
    top = (
        keys.groupBy("doc_id").agg(F.count("*").alias("c"))
        .orderBy(F.desc("c")).limit(1).collect()[0]
    )
    hot_cnt = int(top["c"])
    hot = [top["doc_id"]]

    # the production decision with each candidate floor
    sweep = {}
    for floor in FLOORS:
        sweep[str(floor)] = bool(
            hot_cnt > straggler_threshold(total, cores, floor)
        )
    default = straggler_hot_keys(keys, "doc_id", total, cores=cores,
                                 sample_fraction=0.05)

    seqs = bench.read_sequences(spark, root, bench.BENCH_DOCS)
    hot_rows = seqs.where(hotwin.hot_predicate("doc_id", hot)).collect()

    def run(hot_keys, hot_rows_):
        out, stats = bench.flagship_pipeline(spark, root, hot_keys, hot_rows_)
        bench.materialize(out)
        bench.materialize(stats)

    run(hot, hot_rows)  # warm codegen + page cache, untimed
    walls: dict[str, list[float]] = {"routed": [], "plain": []}
    for _ in range(n_reps):
        for label, hk, hr in (("routed", hot, hot_rows), ("plain", [], [])):
            _cache.release_all()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            run(hk, hr)
            walls[label].append(round(time.time() - t0, 2))

    print(json.dumps({
        "docs": bench.BENCH_DOCS,
        "cores": cores,
        "total_rows": total,
        "hot_key_rows": hot_cnt,
        "makespan_bar": total // cores,
        "default_decision_routes": bool(default),
        "floor_sweep_routes": sweep,
        "wall_routed_s": walls["routed"],
        "wall_plain_s": walls["plain"],
        "best_routed_s": min(walls["routed"]),
        "best_plain_s": min(walls["plain"]),
    }))


if __name__ == "__main__":
    main()
