"""Cache lifecycle for operator-internal persists.

Several operators persist bounded intermediates because Spark has no
DataFrame branch reuse (a frame referenced by two consumers re-evaluates
its whole upstream per consumer): the shared shingle pass in near-dup
dedup, the exploded LSH band table, the fused chain's mid frame and carry
table. Those persists used to leak —
nothing ever unpersisted them, so a long-running multi-corpus job (the
chunked jobs/featuregen.py loop, a bench process running many queries)
accumulated cache blocks for the life of the application.

Every operator-internal persist now goes through ``tracked_persist``,
which registers the frame in a process-wide registry. Pipeline drivers
call ``release_all()`` at their natural barrier — after a chunk's write
commits, after a bench query materializes — to drop exactly the
engine-created blocks without touching user caches (unlike
``spark.catalog.clearCache()``, which would).

``tracked()`` is the context-manager form for scoped jobs::

    with cache.tracked():
        df = near_dup_jaccard(...)
        df.write.parquet(out)      # persists live while the job runs
    # all operator-internal caches are dropped here
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_CHECKPOINTED: list[DataFrame] = []


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """persist() + register for later release_all(). ``level`` is an
    optional pyspark StorageLevel (default MEMORY_AND_DISK as in persist)."""
    out = df.persist(level) if level is not None else df.persist()
    with _LOCK:
        _TRACKED.append(out)
    return out


def chain_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Plan-lineage barrier for ITERATIVELY CHAINED operators (the
    connected-components rounds in ``engine.corpus.dedup``):
    ``localCheckpoint`` truncates the logical plan to a LogicalRDD.

    Why persist() is NOT enough here: persist registers the plan in the
    CacheManager but the downstream LOGICAL tree still nests the full
    upstream plan — and an operator that references its input several
    times (a CC round reads the previous labels twice: for the neighbour
    minimum and to merge it back) multiplies the analyzed plan per step. Measured on a 60-doc fixture, a
    4-step chain of such operators (the since-removed per-op time-bucketed
    windows) built a 26-million-character plan and spent ~24 s of DRIVER
    time (analyzer / optimizer / codegen) executing 200 rows; with
    chain_checkpoint the plan stays ~200k chars and execution is ~1.5 s.
    That driver cost is fixed per-job and does not shrink with cores.

    The checkpointed blocks are MEMORY_AND_DISK RDD cache entries owned by
    Spark's ContextCleaner: they are freed when the DataFrame is
    garbage-collected. release_all() drops the registry references so GC
    can reclaim them at the pipeline barrier."""
    out = df.localCheckpoint(eager=eager)
    with _LOCK:
        _CHECKPOINTED.append(out)
    return out


def release_all() -> int:
    """Unpersist every engine-tracked frame (blocking=False: executors drop
    blocks asynchronously, the driver does not wait) and drop references to
    chain-checkpointed frames (their blocks are reclaimed by Spark's
    ContextCleaner once unreferenced). Returns the number of frames
    released. Safe to call with a stopped SparkContext."""
    with _LOCK:
        frames, _TRACKED[:] = _TRACKED[:], []
        ckpts, _CHECKPOINTED[:] = _CHECKPOINTED[:], []
    n = len(ckpts)
    del ckpts
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped / frame already unpersisted
    return n


def tracked_count() -> int:
    with _LOCK:
        return len(_TRACKED) + len(_CHECKPOINTED)


@contextlib.contextmanager
def tracked():
    """Scope operator-internal caches to a block (release on exit, even on
    error). Nesting releases everything registered since process start or
    the last release — acceptable for the engine's single-pipeline jobs."""
    try:
        yield
    finally:
        release_all()
