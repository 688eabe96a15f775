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
    # the caches tracked inside the block are dropped here

A ``tracked()`` block OWNS the frames its thread tracks inside it: a
``release_all()`` inside the block releases only those, and one outside
it never touches them. That is what lets pipelines that overlap in one
process release independently: ``jobs/featuregen.py`` runs each chunk in
its own block on a worker thread, and a chunk that finishes must not
unpersist the frames another in-flight chunk still reads. Without any
block, every frame has the same (no) owner and ``release_all()`` drops
them all, as in a single-threaded driver.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# (frame, owner): the owner is the tracked() block open in the registering
# thread, or None
_TRACKED: list[tuple[DataFrame, object]] = []
_CHECKPOINTED: list[tuple[DataFrame, object]] = []
_SCOPE = threading.local()


def _owner():
    return getattr(_SCOPE, "owner", None)


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() at its default storage level + register for later
    release_all()."""
    out = df.persist()
    with _LOCK:
        _TRACKED.append((out, _owner()))
    return out


def chain_checkpoint(df: DataFrame) -> DataFrame:
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
    can reclaim them at the pipeline barrier.

    The checkpoint is eager: it materializes here, so a caller that counts
    rounds to convergence sees each round's rows computed once."""
    out = df.localCheckpoint(eager=True)
    with _LOCK:
        _CHECKPOINTED.append((out, _owner()))
    return out


def _take(registry: list, owner) -> list:
    mine = [df for df, o in registry if o is owner]
    registry[:] = [(df, o) for df, o in registry if o is not owner]
    return mine


def release_all() -> int:
    """Unpersist every engine-tracked frame of the caller's owner — the
    ``tracked()`` block open in this thread, else the frames tracked outside
    any block — (blocking=False: executors drop blocks asynchronously, the
    driver does not wait) and drop references to its chain-checkpointed
    frames (their blocks are reclaimed by Spark's ContextCleaner once
    unreferenced). Returns the number of frames released. Safe to call with
    a stopped SparkContext."""
    owner = _owner()
    with _LOCK:
        frames = _take(_TRACKED, owner)
        ckpts = _take(_CHECKPOINTED, owner)
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
    """Scope operator-internal caches to a block: the frames this thread
    tracks inside it are the block's own, released on exit (even on error).
    A nested block owns its frames apart from the enclosing one's."""
    outer = _owner()
    _SCOPE.owner = object()
    try:
        yield
    finally:
        try:
            release_all()
        finally:
            _SCOPE.owner = outer
