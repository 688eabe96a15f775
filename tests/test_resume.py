"""Checkpoint/resume test (SURVEY.md §5.5): kill the job mid-run, rerun,
assert (a) final output identical to an uninterrupted run and (b) committed
partitions were NOT recomputed (journal records untouched)."""

import glob
import json
import logging
import os
import subprocess
import sys
import threading

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "featuregen.py")


def _run(outdir, *extra, env=None):
    cmd = [sys.executable, JOB, "--input", "/root/testdata/sf0.001",
           "--output", outdir, "--partitions", "8", "--chunk-size", "4",
           "--parallelism", "8", *extra]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)


def _sorted(df):
    return df.sort_values(sorted(df.columns), kind="mergesort").reset_index(drop=True)


def _read_output(spark, outdir):
    return _sorted(spark.read.parquet(os.path.join(outdir, "data")).toPandas())


@pytest.mark.slow
def test_resume_without_recompute(spark, tmp_path):
    """Four chunks, killed right after the first is journaled: exactly its
    pids are committed, while the chunk then in flight may have written
    pid directories or a ``.spark-staging-*`` directory. The resume
    deletes both, recomputes only the pending pids, and its output equals
    a clean run's."""
    clean = str(tmp_path / "clean")
    faulty = str(tmp_path / "faulty")

    r = _run(clean)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "SUMMARY" in r.stdout

    r1 = _run(faulty, "--chunk-size", "2", "--kill-after-chunks", "1")
    assert r1.returncode == 42, r1.stdout + r1.stderr
    journal = os.path.join(faulty, "_journal")
    committed_after_kill = sorted(os.listdir(journal))
    assert committed_after_kill == ["pid-000000.json", "pid-000001.json"]  # chunk 0
    mtimes = {f: os.path.getmtime(os.path.join(journal, f)) for f in committed_after_kill}
    # what a write cut off before its commit leaves, in case the kill fell
    # between two writes
    data = os.path.join(faulty, "data")
    planted = os.path.join(data, ".spark-staging-killed", "__pid=7")
    os.makedirs(planted)
    open(os.path.join(planted, "part-0.parquet"), "w").close()
    left_over = {
        os.path.join(root, f) for d in os.listdir(data) if d not in ("__pid=0", "__pid=1")
        for root, _, fs in os.walk(os.path.join(data, d)) for f in fs
    }

    r2 = _run(faulty, "--chunk-size", "2")
    assert r2.returncode == 0, r2.stdout + r2.stderr
    assert "pending=6 committed=2" in r2.stdout
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(journal, f)) == m, f"{f} recomputed"
    assert not glob.glob(os.path.join(data, ".spark-staging-*"))
    now = {os.path.join(root, f) for root, _, fs in os.walk(data) for f in fs}
    assert not left_over & now

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
    out = io.read_all(spark)
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
def test_input_is_always_staged(tmp_path):
    """Staging is the job's only input path: a default run leaves the
    chunk-partitioned staged table with its completion markers, and the
    option that once turned staging off is an argparse error."""
    staged = str(tmp_path / "staged")
    r = _run(staged)
    assert r.returncode == 0, r.stdout + r.stderr
    inputs = os.path.join(staged, "_staged", "inputs")
    assert os.path.exists(os.path.join(inputs, "_SUCCESS"))
    with open(os.path.join(inputs, "_LAYOUT.json")) as fh:
        assert json.load(fh) == {"partitions": 8, "chunk_size": 4}

    r2 = _run(str(tmp_path / "nostage"), "--no-stage-input")
    assert r2.returncode == 2, r2.stdout + r2.stderr
    assert "unrecognized arguments: --no-stage-input" in r2.stderr


@pytest.mark.slow
def test_resume_with_other_chunk_size_restages(spark, tmp_path):
    """The staged input is partitioned by chunk id, ``__pid div
    chunk_size``. A resume with another ``--chunk-size`` must restage it
    (its ``_LAYOUT.json`` marker no longer matches) rather than prune on
    chunk ids the table was not written with, which would silently drop
    the pending pids' rows."""
    clean = str(tmp_path / "clean")
    faulty = str(tmp_path / "faulty")
    r = _run(clean)
    assert r.returncode == 0, r.stdout + r.stderr

    r1 = _run(faulty, "--kill-after-chunks", "1")
    assert r1.returncode == 42, r1.stdout + r1.stderr
    staged = os.path.join(faulty, "_staged", "inputs")
    with open(os.path.join(staged, "_LAYOUT.json")) as fh:
        assert json.load(fh) == {"partitions": 8, "chunk_size": 4}

    r2 = _run(faulty, "--chunk-size", "2")
    assert r2.returncode == 0, r2.stdout + r2.stderr
    assert "pending=4 committed=4" in r2.stdout
    pd.testing.assert_frame_equal(_read_output(spark, clean), _read_output(spark, faulty))
    with open(os.path.join(staged, "_LAYOUT.json")) as fh:
        assert json.load(fh) == {"partitions": 8, "chunk_size": 2}
    assert sorted(os.path.basename(d) for d in glob.glob(os.path.join(staged, "__chunk=*"))) \
        == [f"__chunk={c}" for c in range(4)]


def _parquet_files(d):
    return sum(f.endswith(".parquet") for f in os.listdir(d))


@pytest.mark.slow
def test_one_file_per_pid_directory(spark, sf_dir, tmp_path):
    """Staged input and committed output hold exactly one parquet file per
    partition directory, also under an extra ``source`` level. The
    committed rows equal, row for row, one unchunked, unstaged
    ``build_features`` pass over the whole input, which checks staging,
    chunking and the two-in-flight pipeline at once. AQE partition
    coalescing is off, as it is at sizes where every shuffle partition is
    big: at test size it would merge the 8-wide exchanges into one task and
    hide a layout that spreads a pid over several files."""
    from pyspark.sql import functions as F

    from engine.io import read_table
    from jobs import featuregen

    # the job's session is created in the subprocess, from these submit args
    env = {**os.environ, "PYSPARK_SUBMIT_ARGS":
           "--conf spark.sql.adaptive.coalescePartitions.enabled=false pyspark-shell"}
    staged = str(tmp_path / "staged")
    r = _run(staged, "--input", sf_dir, env=env)
    assert r.returncode == 0, r.stdout + r.stderr

    e = read_table(spark, sf_dir, "events")
    probes = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    state = e.where(F.col("event_type") != "click").select("user_id", "ts", "value",
                                                           "event_type")
    want, _ = featuregen.build_features(probes, state, "user_id", "ts",
                                        ["value", "event_type"], "30 minutes", [1])
    want = _sorted(want.toPandas())
    got = _read_output(spark, staged).drop(columns="__pid")
    pd.testing.assert_frame_equal(_sorted(got[list(want.columns)]), want)

    nested = str(tmp_path / "nested")
    r2 = _run(nested, "--synthetic", "400", "--output-partition-by", "source", env=env)
    assert r2.returncode == 0, r2.stdout + r2.stderr
    dirs = {
        "staged data": glob.glob(os.path.join(staged, "data", "__pid=*")),
        "staged input": glob.glob(os.path.join(staged, "_staged", "inputs", "__chunk=*", "__role=*")),
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


def _featuregen(sf_dir, out, *extra):
    from jobs import featuregen

    return featuregen.main(["--input", sf_dir, "--output", out, "--partitions", "8",
                            "--parallelism", "8", *extra])


def test_chunks_journal_in_chunk_order(spark, sf_dir, tmp_path, monkeypatch):
    """Two chunks are written at once, and the journal still commits them
    in chunk order: chunk 0's write is held until chunk 1's has finished,
    yet chunk 0's pids are journaled first."""
    from engine.checkpoint import CheckpointManager, ParquetJournalTableIO
    from jobs import featuregen

    write_chunk, commit = CheckpointManager.write_chunk, ParquetJournalTableIO.commit_partition
    chunk1_written = threading.Event()
    lock = threading.Lock()
    running, peak, written, journaled = [0], [0], [], []

    def held_write(mgr, pids, df, lineage):
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        try:
            if 0 in pids:
                assert chunk1_written.wait(120), "chunk 1 was not in flight with chunk 0"
            return write_chunk(mgr, pids, df, lineage)
        finally:
            with lock:
                running[0] -= 1
                written.append(pids[0] // 2)
            if 2 in pids:
                chunk1_written.set()

    def record(io, pid, lineage, metrics):
        journaled.append(pid)
        return commit(io, pid, lineage, metrics)

    monkeypatch.setattr(CheckpointManager, "write_chunk", held_write)
    monkeypatch.setattr(ParquetJournalTableIO, "commit_partition", record)
    assert _featuregen(sf_dir, str(tmp_path / "out"), "--chunk-size", "2") == 0
    assert written[:2] == [1, 0]
    assert peak[0] == featuregen.IN_FLIGHT
    assert journaled == list(range(8))


def test_hot_key_pipeline_equals_one_chunk_run(spark, sf_dir, tmp_path, monkeypatch):
    """With hot keys routed, every chunk persists frames of the fused
    chain. Four chunks two at a time write exactly the rows of one chunk
    of all pids, and every chunk releases its frames."""
    from pyspark.sql import functions as F

    from engine import cache, skew
    from engine.checkpoint import CheckpointManager
    from engine.io import read_table

    e = read_table(spark, sf_dir, "events")
    hot = [r["user_id"] for r in e.groupBy("user_id").count()
           .orderBy(F.desc("count"), "user_id").limit(2).collect()]
    monkeypatch.setattr(skew, "straggler_hot_keys", lambda *a, **k: hot)
    write_chunk = CheckpointManager.write_chunk
    tracked = []

    def counting_write(mgr, *a):
        out = write_chunk(mgr, *a)
        tracked.append(cache.tracked_count())
        return out

    monkeypatch.setattr(CheckpointManager, "write_chunk", counting_write)
    cache.release_all()
    outs = {}
    for chunk_size in (2, 8):
        out = str(tmp_path / f"chunk{chunk_size}")
        assert _featuregen(sf_dir, out, "--chunk-size", str(chunk_size)) == 0
        outs[chunk_size] = _read_output(spark, out)
        with open(os.path.join(out, "_journal", "pid-000000.json")) as fh:
            assert json.load(fh)["lineage"]["params"]["n_hot_keys"] == 2
    assert min(tracked) > 0
    assert cache.tracked_count() == 0
    pd.testing.assert_frame_equal(outs[2], outs[8])


def test_hot_key_decision_logs_the_staged_row_count(spark, sf_dir, tmp_path, monkeypatch,
                                                    caplog):
    """The staged input's parquet footers count probes ∪ state exactly, and
    no Spark job runs between staging and the hot-key decision. The
    decision is one ``jobs.featuregen`` log record."""
    from engine import skew
    from engine.io import read_table
    from jobs import featuregen

    sc = spark.sparkContext
    stage, detect = featuregen.stage_inputs, skew.straggler_hot_keys
    jobs_between = []

    def staged(*a, **k):
        out = stage(*a, **k)
        sc.setJobGroup("after-staging", "after-staging")
        return out

    def hot_keys(*a, **k):
        jobs_between.append(list(sc.statusTracker().getJobIdsForGroup("after-staging")))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return detect(*a, **k)

    monkeypatch.setattr(featuregen, "stage_inputs", staged)
    monkeypatch.setattr(skew, "straggler_hot_keys", hot_keys)
    caplog.set_level(logging.INFO, logger="jobs.featuregen")
    n = read_table(spark, sf_dir, "events").count()  # probes ∪ state
    cores = sc.defaultParallelism
    try:
        assert _featuregen(sf_dir, str(tmp_path / "out"), "--chunk-size", "8") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    [rec] = [r for r in caplog.records if r.name == "jobs.featuregen"]
    assert rec.hot_keys == {"total_rows": n, "cores": cores,
                            "threshold": skew.straggler_threshold(n, cores), "routed": 0}
    assert jobs_between == [[]]
