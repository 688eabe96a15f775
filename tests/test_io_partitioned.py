"""P4 partition-pruning layout: a partitioned write must produce a layout a
filtered read prunes at plan level (PartitionFilters), with exact round-trip
contents."""

import io as _io
import os
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from engine.checkpoint import PID_COL, with_partition_id
from engine.io import read_table, write_partitioned


def _formatted_plan(df) -> str:
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    e = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(e, out, "event_type", max_records_per_file=100_000)

    back = spark.read.parquet(out)
    clicks = back.where(F.col("event_type") == "click")
    plan = _formatted_plan(clicks)
    assert "PartitionFilters" in plan
    # the partition filter actually carries the predicate (not an empty list)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "event_type" in pf and "[]" not in pf.replace("[], ", "x")

    # contents round-trip exactly (partition column moves to the directory)
    want = e.where(F.col("event_type") == "click").count()
    assert clicks.count() == want

    # non-partition filters still push down as data filters
    vals = back.where(F.col("value") > 100.0)
    plan2 = _formatted_plan(vals)
    assert "PushedFilters" in plan2 and "value" in plan2


def _files_per_dir(out, col):
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(out, d)))
        for d in os.listdir(out) if d.startswith(col + "=")
    }


def test_partitioned_write_splits_only_a_large_directory(spark, sf_dir, tmp_path):
    """The write rebalances on the partition column: one file per
    directory, unless a directory exceeds the AQE advisory size; then it
    is split into several files written in parallel, so a skewed value
    never funnels into one task. Rows round-trip exactly either way."""
    e = read_table(spark, sf_dir, "events")
    # several map tasks, as a large input has; a bare repartition would be
    # collapsed into the write's own rebalance
    src = e.repartition(8).localCheckpoint()
    largest = e.groupBy("event_type").count().orderBy(F.desc("count")).first()["event_type"]

    one = str(tmp_path / "one")
    write_partitioned(src, one, "event_type")
    files = _files_per_dir(one, "event_type")
    assert files and set(files.values()) == {1}, files

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        split = str(tmp_path / "split")
        write_partitioned(src, split, "event_type")
    finally:
        spark.conf.set(key, old)
    assert _files_per_dir(split, "event_type")[f"event_type={largest}"] > 1

    for out in (one, split):
        back = spark.read.parquet(out).select(*e.columns)
        assert back.exceptAll(e).count() == 0 and e.exceptAll(back).count() == 0


def test_staged_chunk_scan_prunes_chunk_and_role(spark, sf_dir, tmp_path):
    """featuregen stages its input only so each chunk's scan prunes: the
    scan of one chunk's side must carry ``__chunk`` and ``__role`` in its
    PartitionFilters, and return exactly that chunk's rows."""
    from jobs.featuregen import chunk_scan, stage_inputs

    e = read_table(spark, sf_dir, "events")
    probes = with_partition_id(
        e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts"), "user_id", 8)
    state = with_partition_id(
        e.where(F.col("event_type") != "click").select("user_id", "ts", "value"), "user_id", 8)
    staged = stage_inputs(spark, probes, state, str(tmp_path), 4, 8)
    pids = [4, 5, 6, 7]
    for src, side in zip((probes, state), staged):
        scan = chunk_scan(side, 1, pids)
        pf = [l for l in _formatted_plan(scan).splitlines() if "PartitionFilters" in l]
        assert pf and "__chunk" in pf[0] and "__role" in pf[0], pf
        want = src.where(F.col(PID_COL).isin(pids))
        assert scan.columns == want.columns
        assert scan.exceptAll(want).count() == 0 and want.exceptAll(scan).count() == 0
