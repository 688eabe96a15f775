"""Production feature-generation job (SURVEY.md §3.2).

Launch:
  spark-submit --py-files engine.zip jobs/featuregen.py \
      --input /root/testdata/sf0.1 --output /tmp/featout \
      --partitions 64 --chunk-size 16 --gap "30 minutes" --lags 1 2

Runs the flagship pipeline (as-of join + ffill-semantics last-value + lag +
sessionize + trailing aggregates) per stable hash-partition of the entity key,
committing each partition atomically with lineage + throughput metrics.
A killed run resumes: committed partitions are skipped without recomputation.

Inputs: either the driver testdata ``events`` table (entity=user_id, probes =
click events) or ``--synthetic N`` for the tokenized ``sequences`` corpus +
``seq_events`` + ``probes`` (entity=doc_id).

Fault injection for the resume test: ``--kill-after-chunks K`` exits the
process ungracefully after K committed chunks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from engine import cache
from engine.checkpoint import (
    PID_COL, CheckpointManager, ParquetJournalTableIO, with_partition_id, write_json_atomic,
)
from engine.io import read_table
from engine.plan import FeatureEngine


def build_features(probes, state, entity, probe_ts, values, gap, lags,
                   hot_keys=None):
    """Build the flagship pipeline through the FeaturePlan IR (§3.1) so the
    serialized plan rides in the checkpoint lineage — a resumed job can
    prove exactly what pipeline produced each committed partition.

    The plan is the as-of → lag → sessionize → prefix-rolling pattern that
    ``engine.plan.lower`` compiles to the fused chain, so pre-detected
    ``hot_keys`` are time-split inside its two exchanges; with no hot keys
    it is the one-exchange, one-sort chain."""
    eng = (
        FeatureEngine(probes, entity=entity, ts=probe_ts)
        .asof(state, values=values, suffix="_last")
        .lag([values[0] + "_last"], lags=list(lags))
        .sessionize(gap)
        .rolling({values[0] + "_last": ["count", "sum"]}, "1 day", method="prefix")
    )
    return eng.to_df(hot_keys=hot_keys), eng.plan


ROLE_COL = "__role"
CHUNK_COL = "__chunk"
LAYOUT_FILE = "_LAYOUT.json"


def stage_inputs(spark, probes_p, state_p, stage_dir, chunk_size, partitions):
    """Write the pid-tagged inputs ONCE, partitioned by chunk, so each
    chunk's scan partition-prunes to its own rows instead of re-decoding
    the full input. Without staging, the chunk filter is a predicate on a
    COMPUTED hash column — nothing for the reader to prune — so a
    P/chunk_size-chunk run pays P/chunk_size full input scans (measured:
    63% overhead at 8M docs / 4 chunks; staged overhead in the same
    record, BENCH/BASELINE.md).

    Probes and state are staged as ONE table, so staging is one exchange +
    write job. Its layout is the unit that reads it, the chunk: a
    ``__chunk = __pid div chunk_size`` column and a ``__role`` column are
    its partition columns, so a chunk's scan of either side prunes to its
    own chunk AND role (:func:`chunk_scan`). The rows are rebalanced on
    both, so each ``__chunk=X/__role=Y`` directory holds one file unless
    it exceeds the AQE advisory size. Measured 2026-10-17 on the perfbench
    featuregen workload (60k events, 32 pids, chunks of 16, local[4]):
    staged by ``__pid``/``__role`` it wrote 64 files, staged by chunk it
    writes 4, and traced featuregen time (mostly staging) fell
    1.02 s → 0.65 s.

    Resume-safe/idempotent: the table is reused only when its write
    completed (``_SUCCESS``) AND its ``_LAYOUT.json`` marker records the
    same ``partitions`` and ``chunk_size``; otherwise it is restaged. A
    resume with another ``--chunk-size`` would otherwise prune on chunk
    ids the table was not written with and silently drop rows. Pid
    assignment is data-determined, so a restaged table holds identical
    rows.
    """
    staged = (
        probes_p.withColumn(ROLE_COL, F.lit("probes"))
        .unionByName(state_p.withColumn(ROLE_COL, F.lit("state")), allowMissingColumns=True)
        .withColumn(CHUNK_COL, F.expr(f"{PID_COL} div {int(chunk_size)}"))
    )
    d = os.path.join(stage_dir, "inputs")
    marker = os.path.join(d, LAYOUT_FILE)
    layout = {"partitions": partitions, "chunk_size": chunk_size}
    if not (os.path.exists(os.path.join(d, "_SUCCESS")) and _read_json(marker) == layout):
        # a restage that dies before its own marker lands must leave none
        if os.path.exists(marker):
            os.remove(marker)
        (
            staged.hint("rebalance", CHUNK_COL, ROLE_COL)
            .write.mode("overwrite")
            .partitionBy(CHUNK_COL, ROLE_COL)
            .parquet(d)
        )
        write_json_atomic(marker, layout)
    table = spark.read.schema(staged.schema).parquet(d)

    def role(name, df):
        return table.where(F.col(ROLE_COL) == name).select(*df.columns, CHUNK_COL)

    return role("probes", probes_p), role("state", state_p)


def _read_json(path):
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def group_by_chunk(pids, chunk_size):
    """{chunk id: its pids}; chunk c is pids [c * chunk_size, (c + 1) *
    chunk_size), so a fresh run's groups are consecutive slices of the
    pending pids."""
    chunks = {}
    for pid in pids:
        chunks.setdefault(pid // chunk_size, []).append(pid)
    return chunks


def chunk_scan(df, chunk_id, pids):
    """The rows of one chunk's pending ``pids``. On a staged frame,
    ``__chunk == chunk_id`` is a PartitionFilter that prunes the scan to
    the chunk's directories, and ``__pid IN pids`` drops the pids of a
    partly committed chunk; ``__chunk`` is dropped from the result."""
    cond = F.col(PID_COL).isin(pids)
    if CHUNK_COL in df.columns:
        cond = (F.col(CHUNK_COL) == chunk_id) & cond
    return df.where(cond).drop(CHUNK_COL)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--synthetic", type=int, default=0,
                    help="if >0: n_docs of synthetic sequences corpus instead of events")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--chunk-size", type=int, default=8)
    ap.add_argument("--gap", default="30 minutes")
    ap.add_argument("--lags", type=int, nargs="+", default=[1])
    ap.add_argument("--parallelism", type=int, default=0, help="spark.sql.shuffle.partitions")
    ap.add_argument("--output-partition-by", nargs="*", default=[],
                    help="extra hive-partition columns under the pid layout "
                         "(P4 pruning for downstream readers), e.g. source")
    ap.add_argument("--stage-input", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="write chunk-partitioned input copies once under "
                         "<output>/_staged so chunk scans partition-prune "
                         "instead of re-decoding the full input per chunk. "
                         "DEFAULT since r5: measured strictly better (30.6%% "
                         "vs 40%% checkpoint overhead at 8M docs/4 chunks, "
                         "BENCH/BASELINE.md); --no-stage-input is the escape "
                         "hatch for outputs on write-expensive storage")
    ap.add_argument("--kill-after-chunks", type=int, default=0)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("afg-featuregen").getOrCreate()
    if args.parallelism:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.parallelism))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("WARN")

    io = ParquetJournalTableIO(args.output, extra_partition_cols=args.output_partition_by)
    mgr = CheckpointManager(io, args.partitions)
    pending = mgr.pending()
    print(f"partitions={args.partitions} pending={len(pending)} "
          f"committed={args.partitions - len(pending)}")
    if not pending:
        # a finished job: no input scan, hot-key detection or staging
        return 0

    if args.synthetic:
        from engine.datagen import gen_probes, gen_seq_events, gen_sequences

        entity, probe_ts, values = "doc_id", "asof_ts", ["fvalue", "fcat"]
        state = gen_seq_events(spark, args.synthetic, seed=args.seed)
        probes = gen_probes(spark, args.synthetic, args.synthetic * 2, seed=args.seed)
        seqs = gen_sequences(spark, args.synthetic, seed=args.seed)
        probes = probes.join(seqs.select("doc_id", "n_tok", "source"), "doc_id", "left")
    else:
        entity, probe_ts, values = "user_id", "ts", ["value", "event_type"]
        e = read_table(spark, args.input, "events")
        probes = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        state = e.where(F.col("event_type") != "click").select(
            "user_id", "ts", "value", "event_type"
        )

    # per-input metadata, detected once (sampled partial-agg count).
    # Cost-based (r3): a key is only routed to the time-bucketed plan when
    # its serial window task would actually straggle the job — below that
    # bar the fused plan is the one-sort chain, which is faster
    # (the time split's fixed costs are real). Imported here, not at module
    # level, so a replaced ``engine.skew.straggler_hot_keys`` (perfbench's
    # tracer wraps it) is the one called.
    from engine.skew import straggler_hot_keys, straggler_threshold

    keys = probes.select(entity).unionByName(state.select(entity))
    n = keys.count()
    cores = spark.sparkContext.defaultParallelism
    hot_keys = straggler_hot_keys(
        keys, entity, n, cores=cores, sample_fraction=0.05 if n > 1_000_000 else None,
    )
    print(f"hot keys routed (straggler condition): total_rows={n} cores={cores} "
          f"threshold={straggler_threshold(n, cores)} routed={len(hot_keys)}")

    probes_p = with_partition_id(probes, entity, args.partitions)
    state_p = with_partition_id(state, entity, args.partitions)
    if args.stage_input:
        probes_p, state_p = stage_inputs(
            spark, probes_p, state_p, os.path.join(args.output, "_staged"),
            args.chunk_size, args.partitions,
        )

    t_start = time.time()
    total_rows = 0
    chunks_done = 0
    lineage = None
    for c, chunk in group_by_chunk(pending, args.chunk_size).items():
        cp = chunk_scan(probes_p, c, chunk)
        cs = chunk_scan(state_p, c, chunk).drop(PID_COL)
        feat, plan = build_features(cp, cs, entity, probe_ts, values, args.gap,
                                    args.lags, hot_keys=hot_keys)
        if lineage is None:
            lineage = {
                "inputs": {"input": args.input, "synthetic": args.synthetic, "seed": args.seed},
                "params": {"gap": args.gap, "lags": args.lags, "partitions": args.partitions,
                           "stage_input": args.stage_input,
                           "n_hot_keys": len(hot_keys)},
                "plan": plan.to_dict(),
                "code_version": os.environ.get("AFG_CODE_VERSION", "dev"),
            }
        stats = mgr.run_chunk(chunk, feat, lineage)
        # drop the fused-chain / as-of intermediates this chunk persisted —
        # without this the chunked loop pins new cache blocks per chunk for
        # the life of the application
        cache.release_all()
        total_rows += stats["rows"]
        chunks_done += 1
        print(f"chunk {chunks_done}: pids={chunk} rows={stats['rows']} "
              f"wall={stats['wall_s']:.2f}s")
        if args.kill_after_chunks and chunks_done >= args.kill_after_chunks:
            print("FAULT INJECTION: killing job now", flush=True)
            os._exit(42)

    wall = time.time() - t_start
    summary = {
        "rows": total_rows,
        "wall_s": round(wall, 2),
        "rows_per_s": round(total_rows / wall, 1) if wall else None,
        "partitions": args.partitions,
    }
    print("SUMMARY " + json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
