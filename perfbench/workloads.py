"""The measured work of each workload: one rep, its output check, and the
featuregen kill/resume leg. Everything here calls the engine's public
functions and ``jobs.featuregen.main``; nothing in the engine is changed.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from engine import cache, skew
from engine.checkpoint import CheckpointManager, ParquetJournalTableIO
from engine.fused import fused_feature_chain
from engine.hotwin import hot_predicate
from engine.io import read_table, write_partitioned
from jobs import featuregen

from inputs import SEQ_BUCKETS, duckdb_connect

SEQ_TABLE = "perfbench_sequences"
# featuregen.main's default 32 pids, in 2 chunks of 16 rather than its
# default 4 of 8. Every pid is still its own commit; the two chunks halve
# the per-chunk lowering, write and footer-count jobs, which made a
# featuregen run too long for the time budget of a comparison.
FG_PIDS, FG_CHUNK = 32, 16
# 6h time buckets for routed hot keys, as in the flagship composition
BUCKET_S = 6 * 3600


def register_inputs(spark, root: str, kind: str) -> None:
    """Input registration, the part of set-up that touches the inputs."""
    if kind == "events":
        read_table(spark, root, "events").schema
        return
    spark.sql(f"DROP TABLE IF EXISTS {SEQ_TABLE}")
    spark.sql(f"""
        CREATE TABLE {SEQ_TABLE} (doc_id STRING, tokens ARRAY<INT>, n_tok INT, source STRING)
        USING parquet CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO {SEQ_BUCKETS} BUCKETS
        LOCATION '{os.path.join(root, "sequences")}'
    """)
    spark.read.parquet(os.path.join(root, "seq_events")).schema
    spark.read.parquet(os.path.join(root, "probes")).schema


def detect_hot_docs(spark, probes: DataFrame, ev: DataFrame) -> tuple[int, list]:
    """(rows counted, doc_ids routed hot) by the production straggler rule."""
    n = probes.count() + ev.count()
    return n, skew.straggler_hot_keys(
        probes.select("doc_id").unionByName(ev.select("doc_id")), "doc_id", n,
        cores=spark.sparkContext.defaultParallelism, sample_fraction=0.05,
    )


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


# -- flagship -------------------------------------------------------------

def flagship_rep(spark, root: str, out_dir: str, tr) -> dict:
    """The north-star chain, copied from the flagship composition: hot-key
    detection -> fused feature chain -> persisted feature frame ->
    per-source stats, then the token join on the bucketed sequences table ->
    parquet partitioned by source. Returns what the output check needs.

    Traced, the token join also runs first as its own noop action, so the
    write's share can be taken as the difference."""
    with tr.span("io"):
        seqs = spark.table(SEQ_TABLE)
        ev = spark.read.parquet(os.path.join(root, "seq_events"))
        probes = spark.read.parquet(os.path.join(root, "probes"))

    with tr.span("skew"):
        n, hot = detect_hot_docs(spark, probes, ev)
    tr.count("skew.hot_keys", len(hot))
    tr.count("skew.rows_counted", n)
    with tr.span("join"):
        hot_rows = seqs.where(hot_predicate("doc_id", hot)).collect() if hot else []

    with tr.span("fused"):
        feat = cache.tracked_persist(fused_feature_chain(
            probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
            values=["fvalue", "fcat"], suffix="_last",
            lag_cols=["fvalue_last"], lags=[1, 2],
            session_gap="1 hour",
            rolling={"fvalue_last": ["count", "sum"]},
            rolling_window="1 day",
            bucket=BUCKET_S,
            hot_keys=hot,
        ))
        if tr.enabled:
            _noop(feat)
    src_stats = skew.dim_grouped_agg(
        feat, seqs.select("doc_id", "source"), on="doc_id", group_keys="source",
        agg_specs={"fvalue_last": ["count", "sum", "avg"]},
    )
    if hot:
        pred = hot_predicate("doc_id", hot)
        hot_seqs = spark.createDataFrame(hot_rows, schema=seqs.schema)
        out = feat.where(~F.coalesce(pred, F.lit(False))).join(seqs, "doc_id", "left") \
            .unionByName(feat.where(pred).join(F.broadcast(hot_seqs), "doc_id", "left"))
    else:
        out = feat.join(seqs, "doc_id", "left")

    # The two sinks run one after the other, so every rep does the same work
    # in the same order. Submitted at once, as the legacy harness does, the
    # two jobs race for the persisted frame's blocks in an order that can
    # change from run to run.
    with tr.span("skew"):
        rows = src_stats.collect()
    prefix = None
    if tr.enabled:
        with tr.span("join") as prefix:
            _noop(out)
    with tr.span("io", minus=prefix):
        write_partitioned(out, out_dir, "source", max_records_per_file=4_000_000)
    with tr.span("cache"):
        released = cache.release_all()
    tr.count("cache.frames_released", released)
    return {"stats_count": sum(r["fvalue_last_count"] for r in rows), "hot_keys": len(hot)}


def check_flagship(out_dir: str, ref: dict, info: dict, routed: int) -> list[str]:
    con = duckdb_connect()
    rows, matched, sess, fv, bad_tok = con.execute(f"""
        SELECT sum(n), sum(matched), sum(sessions), sum(fv), sum(bad) FROM (
          SELECT count(*) AS n, count(fcat_last) AS matched, max(session_id) AS sessions,
                 count(fvalue_last) AS fv,
                 count(*) FILTER (WHERE tokens IS NULL OR len(tokens) <> n_tok) AS bad
          FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)
          GROUP BY doc_id)
    """).fetchone()
    errs = []
    for name, got, want in (("rows", rows, ref["rows"]), ("matched", matched, ref["matched"]),
                            ("sessions", sess, ref["sessions"]),
                            ("stats_count", info["stats_count"], fv), ("bad_tokens", bad_tok, 0),
                            ("hot keys routed", info["hot_keys"], routed)):
        if got != want:
            errs.append(f"{name}: got {got}, want {want}")
    return errs


# -- featuregen -----------------------------------------------------------

@contextlib.contextmanager
def _traced_featuregen(tr):
    """Wrap the public calls featuregen.main makes, for one traced job."""
    saved = []

    def patch(obj, name, wrapper):
        orig = getattr(obj, name)
        saved.append((obj, name, orig))
        setattr(obj, name, wrapper(orig))

    def in_span(layer):
        def wrap(fn):
            def inner(*a, **k):
                with tr.span(layer):
                    return fn(*a, **k)
            return inner
        return wrap

    def counted(fn):  # the two full count() scans before hot-key detection
        def inner(df):
            with tr.span("skew"):
                n = fn(df)
            tr.count("skew.rows_counted", n)
            return n
        return inner

    def hot_keys(fn):
        def inner(*a, **k):
            with tr.span("skew"):
                hot = fn(*a, **k)
            tr.count("skew.hot_keys", len(hot))
            return hot
        return inner

    chunk_prefix = {}

    def build(fn):  # driver build time, then the lowered chain as a noop prefix
        def inner(*a, **k):
            with tr.span("plan"):
                feat, plan = fn(*a, **k)
                with tr.span("plan") as sid:
                    _noop(feat)
            chunk_prefix["sid"] = sid
            return feat, plan
        return inner

    def run_chunk(fn):
        def inner(mgr, pids, df, lineage):
            with tr.span("checkpoint", minus=chunk_prefix.pop("sid", None)):
                return fn(mgr, pids, df, lineage)
        return inner

    def timed(name, count=False):
        def wrap(fn):
            def inner(*a, **k):
                t0 = time.perf_counter()
                res = fn(*a, **k)
                tr.count(f"checkpoint.{name}_s", time.perf_counter() - t0)
                if count:
                    tr.count("checkpoint.commits", 1)
                return res
            return inner
        return wrap

    def released(fn):
        def inner():
            with tr.span("cache"):
                n = fn()
            tr.count("cache.frames_released", n)
            return n
        return inner

    patch(ClassicDataFrame, "count", counted)
    patch(skew, "straggler_hot_keys", hot_keys)
    patch(featuregen, "read_table", in_span("io"))
    patch(featuregen, "stage_inputs", in_span("featuregen"))
    patch(featuregen, "build_features", build)
    patch(CheckpointManager, "run_chunk", run_chunk)
    patch(ParquetJournalTableIO, "write_partitions", timed("write"))
    patch(ParquetJournalTableIO, "count_rows", timed("count_rows"))
    patch(ParquetJournalTableIO, "commit_partition", timed("journal", count=True))
    patch(cache, "release_all", released)
    try:
        yield
    finally:
        for obj, name, orig in reversed(saved):
            setattr(obj, name, orig)


def run_featuregen(root: str, out_dir: str, tr=None, kill_after: int = 0) -> int:
    """One ``jobs.featuregen.main`` invocation with its prints on stderr."""
    argv = ["--input", root, "--output", out_dir, "--chunk-size", str(FG_CHUNK)]
    if kill_after:
        argv += ["--kill-after-chunks", str(kill_after)]
    with contextlib.redirect_stdout(sys.stderr):
        if tr is None or not tr.enabled:
            return featuregen.main(argv)
        # the job's own driver code between the wrapped calls is
        # featuregen's self time
        with _traced_featuregen(tr), tr.span("featuregen"):
            rc = featuregen.main(argv)
        tr.count("checkpoint.files_out", sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(out_dir, "data"))
            for f in fs))
        return rc


def check_featuregen(spark, out_dir: str, ref: dict, routed: int) -> list[str]:
    io = ParquetJournalTableIO(out_dir)
    df = io.read_all(spark)
    got = df.agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("event_id").alias("d")).collect()[0]
    journal = io.read_journal()
    journal_rows = sum(r["metrics"]["rows_out"] for r in journal)
    errs = [f"pid {r['partition_id']}: {r['lineage']['params']['n_hot_keys']} hot keys "
            f"routed, want {routed}"
            for r in journal if r["lineage"]["params"]["n_hot_keys"] != routed]
    for name, val, want in (("journal rows", journal_rows, ref["rows"]),
                            ("read_all rows", got["n"], ref["rows"]),
                            ("distinct event_id", got["d"], ref["rows"]),
                            ("committed pids", len(io.committed_partitions()), FG_PIDS)):
        if val != want:
            errs.append(f"{name}: got {val}, want {want}")
    return errs


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
