"""Checkpoint/resume test (SURVEY.md §5.5): kill the job mid-run, rerun,
assert (a) final output identical to an uninterrupted run and (b) committed
partitions were NOT recomputed (journal records untouched)."""

import glob
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "featuregen.py")


def _run(outdir, *extra, env=None):
    cmd = [sys.executable, JOB, "--input", "/root/testdata/sf0.001",
           "--output", outdir, "--partitions", "8", "--chunk-size", "4",
           "--parallelism", "8", *extra]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)


def _read_output(spark, outdir):
    df = spark.read.parquet(os.path.join(outdir, "data")).toPandas()
    return df.sort_values(sorted(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.slow
def test_resume_without_recompute(spark, tmp_path):
    clean = str(tmp_path / "clean")
    faulty = str(tmp_path / "faulty")

    r = _run(clean)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "SUMMARY" in r.stdout

    r1 = _run(faulty, "--kill-after-chunks", "1")
    assert r1.returncode == 42, r1.stdout + r1.stderr
    journal = os.path.join(faulty, "_journal")
    committed_after_kill = sorted(os.listdir(journal))
    assert len(committed_after_kill) == 4  # one chunk of 4 pids
    mtimes = {f: os.path.getmtime(os.path.join(journal, f)) for f in committed_after_kill}

    r2 = _run(faulty)
    assert r2.returncode == 0, r2.stdout + r2.stderr
    assert "pending=4 committed=4" in r2.stdout
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(journal, f)) == m, f"{f} recomputed"

    a = _read_output(spark, clean)
    b = _read_output(spark, faulty)
    pd.testing.assert_frame_equal(a, b)

    # journal carries lineage + throughput metrics per partition
    with open(os.path.join(journal, committed_after_kill[0])) as fh:
        rec = json.load(fh)
    assert rec["lineage"]["params"]["partitions"] == 8
    assert "rows_per_s" in rec["metrics"] and "rows_out" in rec["metrics"]


@pytest.mark.slow
def test_resume_replaces_orphan_files(spark, tmp_path):
    """A crash AFTER parquet files land but BEFORE the journal rename leaves
    orphans in an uncommitted pid directory; the retry must REPLACE them
    (dynamic partition overwrite), not append duplicates."""
    clean = str(tmp_path / "clean")
    faulty = str(tmp_path / "faulty")
    r = _run(clean)
    assert r.returncode == 0, r.stdout + r.stderr

    r1 = _run(faulty, "--kill-after-chunks", "1")
    assert r1.returncode == 42
    committed = {
        int(f[4:-5]) for f in os.listdir(os.path.join(faulty, "_journal"))
    }
    orphan_pid = next(p for p in range(8) if p not in committed)
    # simulate the partial write: copy a committed pid's files into the
    # uncommitted pid's directory (same schema, plausible leftover)
    data = os.path.join(faulty, "data")
    src = os.path.join(data, f"__pid={min(committed)}")
    dst = os.path.join(data, f"__pid={orphan_pid}")
    os.makedirs(dst, exist_ok=True)
    import shutil

    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), os.path.join(dst, "orphan-" + f))

    r2 = _run(faulty)
    assert r2.returncode == 0, r2.stdout + r2.stderr
    a = _read_output(spark, clean)
    b = _read_output(spark, faulty)
    pd.testing.assert_frame_equal(a, b)


def test_zero_row_retry_deletes_orphans(spark, tmp_path):
    """If a crashed attempt left orphan parquet in a pid directory and the
    retry's recomputation produces ZERO rows for that pid, dynamic overwrite
    alone never touches the directory — the orphans would become phantom
    committed rows once the pid is journaled. write_partitions must delete
    uncommitted chunk-pid directories up front (round-1 advice fix)."""
    from pyspark.sql import functions as F

    from engine.checkpoint import (
        PID_COL, CheckpointManager, ParquetJournalTableIO,
    )

    io = ParquetJournalTableIO(str(tmp_path / "out"))
    mgr = CheckpointManager(io, num_partitions=3)

    # simulate the crashed attempt: pid 2 got data files but no journal entry
    orphan = spark.range(5).withColumn(PID_COL, F.lit(2))
    orphan.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(PID_COL).parquet(io.data_dir)
    assert io.count_rows([2])[2] == 5

    # the retry recomputes the chunk; this time pid 2 legitimately has 0 rows
    df = spark.range(10).withColumn(PID_COL, (F.col("id") % 2).cast("int"))
    mgr.run_chunk([0, 1, 2], df, lineage={"inputs": {}, "params": {}})

    assert io.committed_partitions() == {0, 1, 2}
    assert io.count_rows([2])[2] == 0, "phantom orphan rows survived the retry"
    out = io.read_all(spark, committed_only=True)
    assert out.count() == 10


@pytest.mark.slow
def test_output_partitioned_by_source(spark, tmp_path):
    """P4 composed under the checkpoint layout: __pid=X/source=Y/ — resume
    semantics intact, downstream source-filtered reads prune directories."""
    out = str(tmp_path / "p4out")
    r = _run(out, "--synthetic", "400", "--output-partition-by", "source")
    assert r.returncode == 0, r.stdout + r.stderr
    import glob

    nested = glob.glob(os.path.join(out, "data", "__pid=*", "source=*"))
    assert nested, "expected nested source=... partition dirs"
    df = spark.read.parquet(os.path.join(out, "data"))
    pruned = df.where(df.source == "src0")
    assert pruned.count() > 0
    # journal counted rows from the nested layout (footer walk)
    with open(os.path.join(out, "_journal", sorted(os.listdir(os.path.join(out, "_journal")))[0])) as fh:
        import json as _json

        rec = _json.load(fh)
    assert rec["metrics"]["rows_out"] >= 0


@pytest.mark.slow
def test_stage_input_default_and_escape_hatch(tmp_path):
    """r5 (r4 verdict #4): --stage-input is the DEFAULT — measured strictly
    better (30.6% vs 40% checkpoint overhead) and it removes the per-chunk
    full-input re-scan. The default run must leave the pid-partitioned
    staged copies (with their completion markers); --no-stage-input must
    not stage and still complete."""
    staged = str(tmp_path / "staged")
    r = _run(staged)
    assert r.returncode == 0, r.stdout + r.stderr
    assert os.path.exists(os.path.join(staged, "_staged", "inputs", "_SUCCESS"))

    nostage = str(tmp_path / "nostage")
    r2 = _run(nostage, "--no-stage-input")
    assert r2.returncode == 0, r2.stdout + r2.stderr
    assert not os.path.exists(os.path.join(nostage, "_staged"))
    assert "SUMMARY" in r2.stdout


def _parquet_files(d):
    return sum(f.endswith(".parquet") for f in os.listdir(d))


@pytest.mark.slow
def test_one_file_per_pid_directory(spark, tmp_path):
    """Staged input and committed output hold exactly one parquet file per
    partition directory, with and without staging, and under an extra
    ``source`` level; staging changes no output row. AQE partition
    coalescing is off, as it is at sizes where every shuffle partition is
    big: at test size it would merge the 8-wide exchanges into one task and
    hide a layout that spreads a pid over several files."""
    # the job's session is created in the subprocess, from these submit args
    env = {**os.environ, "PYSPARK_SUBMIT_ARGS":
           "--conf spark.sql.adaptive.coalescePartitions.enabled=false pyspark-shell"}
    staged, nostage = str(tmp_path / "staged"), str(tmp_path / "nostage")
    r = _run(staged, env=env)
    assert r.returncode == 0, r.stdout + r.stderr
    r2 = _run(nostage, "--no-stage-input", env=env)
    assert r2.returncode == 0, r2.stdout + r2.stderr
    pd.testing.assert_frame_equal(_read_output(spark, staged), _read_output(spark, nostage))

    nested = str(tmp_path / "nested")
    r3 = _run(nested, "--synthetic", "400", "--output-partition-by", "source", env=env)
    assert r3.returncode == 0, r3.stdout + r3.stderr
    dirs = {
        "staged data": glob.glob(os.path.join(staged, "data", "__pid=*")),
        "staged input": glob.glob(os.path.join(staged, "_staged", "inputs", "__pid=*", "__role=*")),
        "unstaged data": glob.glob(os.path.join(nostage, "data", "__pid=*")),
        "nested data": glob.glob(os.path.join(nested, "data", "__pid=*", "source=*")),
    }
    for name, ds in dirs.items():
        assert ds, name
        assert {d: _parquet_files(d) for d in ds} == {d: 1 for d in ds}, name


def test_rerun_of_finished_job_writes_nothing(spark, sf_dir, tmp_path, capsys):
    """A re-run into a completed output returns right after the pending
    check: no Spark job (no input count, hot-key detection, staging or
    write) and every data file keeps its mtime."""
    from jobs import featuregen

    out = str(tmp_path / "out")
    argv = ["--input", sf_dir, "--output", out,
            "--partitions", "4", "--chunk-size", "4", "--parallelism", "8"]
    assert featuregen.main(argv) == 0
    files = [os.path.join(root, f) for root, _, fs in os.walk(out) for f in fs]
    assert any(f.endswith(".parquet") for f in files)
    mtimes = {f: os.path.getmtime(f) for f in files}
    capsys.readouterr()

    sc = spark.sparkContext
    sc.setJobGroup("featuregen-rerun", "featuregen-rerun")
    try:
        assert featuregen.main(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("featuregen-rerun")) == []
    assert "pending=0 committed=4" in capsys.readouterr().out
    assert {f: os.path.getmtime(f) for f in mtimes} == mtimes
    assert sorted(os.path.join(root, f) for root, _, fs in os.walk(out) for f in fs) == sorted(mtimes)
