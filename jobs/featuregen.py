"""Production feature-generation job (SURVEY.md §3.2).

Launch:
  spark-submit --py-files engine.zip jobs/featuregen.py \
      --input /root/testdata/sf0.1 --output /tmp/featout \
      --partitions 64 --chunk-size 16 --gap "30 minutes" --lags 1 2

Runs the flagship pipeline (as-of join + ffill-semantics last-value + lag +
sessionize + trailing aggregates) per stable hash-partition of the entity key,
committing each partition atomically with lineage + throughput metrics.
A killed run resumes: committed partitions are skipped without recomputation.

The input is staged once, partitioned by chunk (:func:`stage_inputs`), and
every chunk scans the staged table. Unstaged, the chunk filter would be a
predicate on a computed hash column, so every chunk would re-scan the whole
input. The staged table's parquet footers also give the row count that
hot-key detection needs, so no Spark job counts the input.

The chunks are pipelined (:func:`run_chunks`): at most ``IN_FLIGHT`` chunk
jobs run at once, each on a worker thread that builds the chunk's plan,
writes it and reads its footer row counts, while the main thread journals
the written chunks strictly in chunk order. A pid counts as committed only
once it is journaled, so a crash leaves at worst written-but-unjournaled
pid directories, which the next write of those pids deletes, and the
``.spark-staging-*`` directory of a write cut short, which the next run
deletes at its start.

Inputs: either the driver testdata ``events`` table (entity=user_id, probes =
click events) or ``--synthetic N`` for the tokenized ``sequences`` corpus +
``seq_events`` + ``probes`` (entity=doc_id).

Fault injection for the resume test: ``--kill-after-chunks K`` exits the
process ungracefully right after the K-th chunk is journaled; the chunks
then in flight are cut off wherever they are, and only the first K chunks'
pids are committed.
"""

from __future__ import annotations

import argparse
import collections
import json
import logging
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from engine import cache
from engine.checkpoint import (
    PID_COL, CheckpointManager, ParquetJournalTableIO, footer_rows, with_partition_id,
    write_json_atomic,
)
from engine.io import read_table
from engine.plan import FeatureEngine

log = logging.getLogger("jobs.featuregen")

# Chunk jobs built and written at once. Run one after another, a chunk's
# driver-side plan build (~2,200 py4j calls) and its small write stages
# leave the cores idle; a second chunk in flight fills that time. Each
# chunk in flight holds its own plan and persisted frames.
IN_FLIGHT = 2


def build_features(probes, state, entity, probe_ts, values, gap, lags,
                   hot_keys=None):
    """Build the flagship pipeline through the FeaturePlan IR (§3.1) so the
    serialized plan rides in the checkpoint lineage — a resumed job can
    prove exactly what pipeline produced each committed partition.

    The plan is the as-of → lag → sessionize → prefix-rolling pattern that
    ``engine.plan.lower`` compiles to the fused chain when given hot keys,
    so pre-detected ``hot_keys`` are time-split inside its two exchanges;
    with no hot keys it lowers plainly to the one-exchange, one-sort
    chain."""
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
    the full input. This is the job's only input path: on the unstaged
    frames the chunk filter would be a predicate on a COMPUTED hash
    column — nothing for the reader to prune — so a P/chunk_size-chunk
    run would pay P/chunk_size full input scans (dated record, 8M docs,
    4 chunks, local[16]: 40.0% checkpoint overhead unstaged, 30.6%
    staged; BENCH/HISTORY.md).

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
    """The rows of one chunk's pending ``pids`` in a staged frame
    (:func:`stage_inputs`): ``__chunk == chunk_id`` is a PartitionFilter
    that prunes the scan to the chunk's directories, and ``__pid IN pids``
    drops the pids of a partly committed chunk; ``__chunk`` is dropped
    from the result.

    The filter is one SQL expression, parsed in one py4j call (``isin``
    makes several calls per pid: 184 per scan at 16 pids)."""
    pid_list = ", ".join(str(int(p)) for p in pids)
    cond = f"{CHUNK_COL} = {int(chunk_id)} AND {PID_COL} IN ({pid_list})"
    return df.where(F.expr(cond)).drop(CHUNK_COL)


def run_chunks(mgr, probes_p, state_p, chunk_size, build):
    """The job's chunk loop over ``mgr``'s pending pids, pipelined: at most
    ``IN_FLIGHT`` chunk jobs at once. A worker thread scans the chunk's
    rows from the staged frames (``probes_p``, ``state_p``, as
    :func:`stage_inputs` returns them), calls ``build(probes, state) -> (features, lineage)``, writes the
    features and reads their footer counts (``CheckpointManager.
    write_chunk``) inside its own ``cache.tracked()`` block, so it releases
    exactly the frames its chunk persisted. This generator journals the
    written chunks in chunk order and yields ``(pids, stats)`` right after
    each is journaled; a consumer that stops there (``--kill-after-chunks``)
    leaves every later chunk uncommitted.

    Worker threads inherit the caller's Spark local properties (job group,
    scheduler pool) as of each chunk's submission."""
    spark = probes_p.sparkSession

    def write(c, pids):
        with cache.tracked():
            feat, lineage = build(chunk_scan(probes_p, c, pids),
                                  chunk_scan(state_p, c, pids).drop(PID_COL))
            return mgr.write_chunk(pids, feat, lineage)

    chunks = iter(group_by_chunk(mgr.pending(), chunk_size).items())
    in_flight = collections.deque()
    with ThreadPoolExecutor(IN_FLIGHT) as pool:
        def submit_next():
            chunk = next(chunks, None)
            if chunk is not None:
                in_flight.append(pool.submit(inheritable_thread_target(spark)(write), *chunk))

        for _ in range(IN_FLIGHT):
            submit_next()
        while in_flight:
            written = in_flight.popleft().result()
            submit_next()
            yield written["pids"], mgr.journal_chunk(written)


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
    ap.add_argument("--kill-after-chunks", type=int, default=0,
                    help="fault injection: exit ungracefully (status 42) right "
                         "after the K-th chunk is journaled; chunks in flight "
                         "are cut off and stay pending")
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
    io.clear_staging()

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

    probes_p = with_partition_id(probes, entity, args.partitions)
    state_p = with_partition_id(state, entity, args.partitions)
    stage_dir = os.path.join(args.output, "_staged")
    probes_p, state_p = stage_inputs(
        spark, probes_p, state_p, stage_dir, args.chunk_size, args.partitions,
    )

    # per-input metadata, detected once (sampled partial-agg count).
    # Cost-based (r3): a key is only routed to the time-bucketed plan when
    # its serial window task would actually straggle the job — below that
    # bar the plan lowers plainly to the one-sort chain, which is faster
    # (the time split's fixed costs are real). Imported here, not at module
    # level, so a replaced ``engine.skew.straggler_hot_keys`` (perfbench's
    # tracer wraps it) is the one called.
    from engine.skew import straggler_hot_keys, straggler_threshold

    keys = probes_p.select(entity).unionByName(state_p.select(entity))
    # the staged table holds exactly probes ∪ state: its parquet footers
    # count it without a Spark job
    n = footer_rows(os.path.join(stage_dir, "inputs"))
    cores = spark.sparkContext.defaultParallelism
    hot_keys = straggler_hot_keys(
        keys, entity, n, cores=cores, sample_fraction=0.05 if n > 1_000_000 else None,
    )
    decision = {"total_rows": n, "cores": cores,
                "threshold": straggler_threshold(n, cores), "routed": len(hot_keys)}
    log.info("hot keys routed (straggler condition): %s",
             " ".join(f"{k}={v}" for k, v in decision.items()),
             extra={"hot_keys": decision})

    def build(cp, cs):
        feat, plan = build_features(cp, cs, entity, probe_ts, values, args.gap,
                                    args.lags, hot_keys=hot_keys)
        return feat, {
            "inputs": {"input": args.input, "synthetic": args.synthetic, "seed": args.seed},
            "params": {"gap": args.gap, "lags": args.lags, "partitions": args.partitions,
                       "n_hot_keys": len(hot_keys)},
            "plan": plan.to_dict(),
            "code_version": os.environ.get("AFG_CODE_VERSION", "dev"),
        }

    t_start = time.time()
    total_rows = 0
    chunks = run_chunks(mgr, probes_p, state_p, args.chunk_size, build)
    for chunks_done, (chunk, stats) in enumerate(chunks, 1):
        total_rows += stats["rows"]
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
    logging.basicConfig(level=logging.INFO, format="%(name)s %(levelname)s %(message)s")
    sys.exit(main())
