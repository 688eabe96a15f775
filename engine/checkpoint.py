"""Partition-atomic checkpointing with lineage + throughput metrics.

BASELINE.json:6/14: "checkpoints per-partition progress with lineage +
throughput metrics to Iceberg metadata so a killed job resumes without
recomputation". The sandbox has no Iceberg runtime (SURVEY.md §0.1), so a thin
``TableIO`` facade has two implementations with identical semantics:

* ``IcebergTableIO`` — when an Iceberg catalog is configured: ``writeTo(
  table).append()`` per partition-batch, lineage/metrics as snapshot summary
  properties, resume from the latest snapshot's committed-pid set.
* ``ParquetJournalTableIO`` (default here) — partitioned Parquet directory +
  ``_journal/`` of atomically-renamed JSON records, one per committed
  partition: Iceberg's snapshot-per-commit model reproduced with POSIX rename
  atomicity.

Partition ids are DATA-DETERMINED — ``pmod(xxhash64(entity), P)`` — never task
or AQE partition indices, so a resumed job computes identical pid sets
(SURVEY.md §7 risk 5).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PID_COL = "__pid"


def with_partition_id(df: DataFrame, entity: str, num_partitions: int) -> DataFrame:
    """Stable, data-determined partition id."""
    return df.withColumn(
        PID_COL, F.pmod(F.xxhash64(F.col(entity)), F.lit(num_partitions)).cast("int")
    )


def footer_rows(directory: str) -> int:
    """Row count of the parquet files under ``directory`` (walked, so nested
    partition directories count too), from their footers: no Spark job,
    no data page decoded. Entries Spark's reader skips are skipped: names
    starting with ``.``, or with ``_`` unless they are a ``col=value``
    partition directory (``__pid=3``)."""
    import pyarrow.parquet as pq

    def hidden(name):
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    n = 0
    for root, dirs, files in os.walk(directory):
        dirs[:] = [d for d in dirs if not hidden(d)]
        for f in files:
            if f.endswith(".parquet") and not hidden(f):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a tmp file in the same
    directory, then a rename (POSIX rename is atomic), so a reader sees the
    old file, the new one, or none, never a partial one."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.rename(tmp, path)


class ParquetJournalTableIO:
    """Parquet data + atomic JSON journal; one record per committed partition.

    ``extra_partition_cols`` composes the P4 consumer layout under the pid
    layout (``__pid=X/source=Y/…``): the pid level keeps commits/retries
    atomic per chunk, the inner level lets downstream readers prune on
    business columns. Keep the inner columns low-cardinality — the
    directory count multiplies."""

    def __init__(self, base_dir: str, extra_partition_cols: list[str] | None = None):
        self.base_dir = base_dir
        self.data_dir = os.path.join(base_dir, "data")
        self.journal_dir = os.path.join(base_dir, "_journal")
        self.extra_partition_cols = list(extra_partition_cols or [])
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.journal_dir, exist_ok=True)

    # -- journal ----------------------------------------------------------
    def _journal_path(self, pid: int) -> str:
        return os.path.join(self.journal_dir, f"pid-{pid:06d}.json")

    def committed_partitions(self) -> set[int]:
        out = set()
        for f in os.listdir(self.journal_dir):
            if f.startswith("pid-") and f.endswith(".json"):
                out.add(int(f[4:-5]))
        return out

    def read_journal(self) -> list[dict]:
        recs = []
        for pid in sorted(self.committed_partitions()):
            with open(self._journal_path(pid)) as fh:
                recs.append(json.load(fh))
        return recs

    def commit_partition(self, pid: int, lineage: dict, metrics: dict) -> None:
        """Atomic (:func:`write_json_atomic`)."""
        write_json_atomic(
            self._journal_path(pid),
            {"partition_id": pid, "lineage": lineage, "metrics": metrics},
        )

    # -- data -------------------------------------------------------------
    def write_partitions(self, df: DataFrame, pids: list[int], lineage: dict) -> None:
        """Write output for a batch of pids, directory-per-pid layout.

        The rows are rebalanced on the partition columns (``__pid`` plus
        ``extra_partition_cols``), the layout rule every partitioned write
        here follows (:func:`engine.io.write_partitioned`): one file per
        directory unless it exceeds
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, where AQE
        splits it into several files written in parallel. Without it every
        task of the chunk's last exchange wrote a file into each pid it
        held. Measured 2026-10-17 on the perfbench featuregen workload (12k
        output rows, 32 pids in 2 chunks of 16, 8-wide shuffles, local[4]):
        256 → 32 committed files, traced checkpoint time 1.87 s → 0.59 s.

        DYNAMIC partition overwrite, not append: if a previous attempt died
        after some parquet files landed but before the journal rename, the
        pid directory holds orphan files — an append on retry would silently
        duplicate those rows. Dynamic overwrite replaces exactly the pid
        directories being (re)written and leaves committed pids untouched,
        making retries idempotent (the journal stays the single source of
        truth for what is committed).

        One gap dynamic overwrite cannot cover (round-1 advice): if the
        retry's recomputation legitimately produces ZERO rows for a pid, the
        write never touches that pid's directory and a crashed attempt's
        orphan files would survive — then journaling the pid would turn them
        into phantom committed rows. Every chunk pid is UNcommitted by
        construction (write_chunk only gets pending pids), so any existing
        directory for one is orphan data: delete them up front.
        (IcebergTableIO has no such gap — a failed attempt never commits a
        snapshot, so its data files are invisible by design.) ``lineage``
        rides in the journal here, not in the data write."""
        import shutil

        committed = self.committed_partitions()
        for pid in pids:
            pdir = os.path.join(self.data_dir, f"{PID_COL}={pid}")
            if pid not in committed and os.path.isdir(pdir):
                shutil.rmtree(pdir)
        (
            df.hint("rebalance", PID_COL, *self.extra_partition_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PID_COL, *self.extra_partition_cols)
            .parquet(self.data_dir)
        )

    def clear_staging(self) -> None:
        """Delete the ``.spark-staging-*`` directories that a dynamic
        overwrite killed before its commit left in ``data/``. Call it at job
        start, before any write: a running write keeps its files there."""
        import shutil

        for d in os.listdir(self.data_dir):
            if d.startswith(".spark-staging-"):
                shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)

    def count_rows(self, pids: list[int]) -> dict[int, int]:
        """Per-pid row counts from parquet footer metadata — no Spark job,
        no second evaluation of the chunk DAG."""
        return {pid: footer_rows(os.path.join(self.data_dir, f"{PID_COL}={pid}"))
                for pid in pids}

    def read_all(self, spark: SparkSession) -> DataFrame:
        """The committed pids' rows."""
        pids = sorted(self.committed_partitions())
        return spark.read.parquet(self.data_dir).where(F.col(PID_COL).isin(pids))


class IcebergTableIO:
    """Iceberg-backed implementation (requires iceberg-spark-runtime on the
    classpath and a configured catalog; not available in this sandbox —
    SURVEY.md §0.1, so exercised only through the shared facade tests of
    ParquetJournalTableIO). API-identical to ParquetJournalTableIO above.

    Mapping of the journal model onto Iceberg:
    - the data write is ONE atomic snapshot per chunk; the pid set and the
      lineage ride on that snapshot as summary properties
      (``snapshot-property.afg.*``) — Iceberg's equivalent of the
      atomically-renamed JSON record;
    - ``overwritePartitions`` (dynamic) keeps retries idempotent exactly
      like the Parquet impl: orphan files from a failed attempt are replaced,
      never appended to;
    - per-pid throughput metrics append to a ``<table>_journal`` Iceberg
      table (their own atomic commit, after the data commit — resume truth
      is the DATA snapshot's pid set, metrics are observability).
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        self.journal_table = f"{table}_journal"

    def committed_partitions(self) -> set[int]:
        rows = self.spark.sql(
            f"SELECT summary FROM {self.table}.snapshots ORDER BY committed_at"
        ).collect()
        out: set[int] = set()
        for r in rows:
            pids = r["summary"].get("afg.partition_ids")
            if pids:
                out.update(int(p) for p in pids.split(","))
        return out

    def write_partitions(self, df: DataFrame, pids: list[int], lineage: dict) -> None:
        """One snapshot; its ``afg.partition_ids`` property is what
        :meth:`committed_partitions` reads back."""
        (
            df.writeTo(self.table)
            .option("snapshot-property.afg.partition_ids", ",".join(map(str, pids)))
            .option("snapshot-property.afg.lineage", json.dumps(lineage))
            .overwritePartitions()
        )

    def clear_staging(self) -> None:
        """Nothing to clear: a failed attempt never commits a snapshot."""

    def commit_partition(self, pid: int, lineage: dict, metrics: dict) -> None:
        rec = self.spark.createDataFrame(
            [(pid, json.dumps(lineage), json.dumps(metrics))],
            "partition_id int, lineage string, metrics string",
        )
        rec.writeTo(self.journal_table).append()

    def count_rows(self, pids: list[int]) -> dict[int, int]:
        rows = (
            self.spark.read.table(self.table)
            .where(F.col(PID_COL).isin(pids))
            .groupBy(PID_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        got = {r[PID_COL]: r["n"] for r in rows}
        return {p: got.get(p, 0) for p in pids}

    def read_journal(self) -> list[dict]:
        rows = self.spark.read.table(self.journal_table).collect()
        return [
            {
                "partition_id": r["partition_id"],
                "lineage": json.loads(r["lineage"]),
                "metrics": json.loads(r["metrics"]),
            }
            for r in rows
        ]

    def read_all(self, spark) -> DataFrame:
        """The committed pids' rows."""
        pids = sorted(self.committed_partitions())
        return spark.read.table(self.table).where(F.col(PID_COL).isin(pids))


class CheckpointManager:
    """Drives resumable per-partition processing over a TableIO."""

    def __init__(self, io, num_partitions: int):
        self.io = io
        self.num_partitions = num_partitions

    def pending(self) -> list[int]:
        done = self.io.committed_partitions()
        return [p for p in range(self.num_partitions) if p not in done]

    def run_chunk(self, pids: list[int], df_for_pids: DataFrame, lineage: dict) -> dict:
        """Materialize one chunk and journal each pid with throughput metrics:
        :meth:`write_chunk`, then :meth:`journal_chunk`. The job pipelines
        those two halves itself (``jobs.featuregen.run_chunks``); this is
        their serial form, which tests drive directly and perfbench's
        tracer patches by name."""
        return self.journal_chunk(self.write_chunk(pids, df_for_pids, lineage))

    def write_chunk(self, pids: list[int], df_for_pids: DataFrame, lineage: dict) -> dict:
        """The write-and-count half of :meth:`run_chunk`: one evaluation of
        the chunk DAG (the write), then per-pid row counts from the written
        parquet footers, not a second count job. Nothing is committed yet:
        a pid written here but never journaled is orphan data, which the
        next write of that pid deletes. Safe to run for two chunks at once
        (disjoint pids, dynamic overwrite). Returns what
        :meth:`journal_chunk` needs."""
        t0 = time.time()
        self.io.write_partitions(df_for_pids, pids=pids, lineage=lineage)
        wall = time.time() - t0
        return {"pids": list(pids), "lineage": lineage, "wall_s": wall,
                "counts": self.io.count_rows(pids)}

    def journal_chunk(self, written: dict) -> dict:
        """The journal half of :meth:`run_chunk`: commit each pid of a
        :meth:`write_chunk` result, with its metrics. ``chunk_wall_s`` is
        the wall time of the chunk's write (its Spark job and commit). When
        chunks are written concurrently their walls overlap: it is the
        chunk's latency, and its sum over chunks overstates the job's wall
        time (and ``rows_per_s`` understates the job's throughput)."""
        counts, wall = written["counts"], written["wall_s"]
        total = sum(counts.values())
        for pid in written["pids"]:
            rows = counts.get(pid, 0)
            self.io.commit_partition(
                pid,
                lineage=written["lineage"],
                metrics={
                    "rows_out": rows,
                    "chunk_wall_s": round(wall, 3),
                    "rows_per_s": round(rows / wall, 1) if wall > 0 else None,
                    "chunk_share_rows_per_s": round(total / wall, 1) if wall > 0 else None,
                },
            )
        return {"rows": total, "wall_s": wall}
