"""Cache lifecycle: operator-internal persists are tracked and released.

A long-running job (chunked featuregen, a bench process running many
queries) must not accumulate cache blocks — every persist the engine
creates internally has to be droppable via ``engine.cache.release_all``.
"""

import sys
import threading

from pyspark.sql import functions as F

from engine import cache
from engine.corpus.dedup import (
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    shingle_table,
    simhash,
    simhash_near_pairs,
)
from engine.io import read_table


def _engine_cached_rdds(spark):
    """RDDs currently cached in the JVM (name → storage info)."""
    return list(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_near_dup_pipeline_releases_all_caches(spark, sf_dir):
    cache.release_all()  # start clean regardless of earlier tests
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(d)
    pairs = lsh_candidate_pairs(d, shingle_df=sh)
    out = ngram_jaccard_pairs(d, pairs, threshold=0.8, shingle_df=sh)
    out.count()  # materialize → the tracked persists are populated
    assert cache.tracked_count() >= 2  # shingles + bands at minimum
    released = cache.release_all()
    assert released >= 2
    assert cache.tracked_count() == 0


def test_simhash_pipeline_releases(spark, sf_dir):
    cache.release_all()
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    simhash_near_pairs(simhash(d), max_hamming=3).count()
    assert cache.tracked_count() >= 1
    cache.release_all()
    assert cache.tracked_count() == 0


def test_tracked_scope_releases_on_error(spark, sf_dir):
    cache.release_all()
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    try:
        with cache.tracked():
            shingle_table(d).count()
            assert cache.tracked_count() == 1
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert cache.tracked_count() == 0


def test_hot_split_plan_releases(spark):
    """The fused chain a hot_keys lowering compiles to persists its mid
    frame and carry table; all of them must be tracked (ADVICE round 1:
    plan.py:265 leak)."""
    from engine.plan import FeatureEngine

    cache.release_all()
    rows = [(i % 3, i, float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "user_id long, t long, v double").withColumn(
        "ts", F.timestamp_micros(F.col("t") * 60_000_000)
    )
    state = df.select("user_id", (F.col("ts") - F.expr("INTERVAL 30 SECONDS")).alias("ts"),
                      (F.col("v") * 2).alias("s"))
    out = (
        FeatureEngine(df, entity="user_id", ts="ts")
        .asof(state, values=["s"], suffix="_last")
        .lag(["v"], lags=[1])
        .sessionize("30 minutes")
        .to_df(hot_keys=[0], bucket="1 hour")
    )
    out.count()
    assert cache.tracked_count() >= 1
    cache.release_all()
    # nothing engine-tracked remains; user-level caches (conftest fixtures)
    # are intentionally untouched by release_all
    assert cache.tracked_count() == 0


class _Frame:
    """A stand-in for a DataFrame: records the threads that unpersisted it."""

    def __init__(self):
        self.released_by = []

    def persist(self, level=None):
        return self

    def unpersist(self):
        self.released_by.append(threading.current_thread().name)


def test_tracked_blocks_release_only_their_own_frames():
    """featuregen runs chunks in ``tracked()`` blocks on two threads: a
    chunk that finishes, and any ``release_all()`` outside a block, must
    leave the frames of a chunk still in flight persisted."""
    cache.release_all()
    a_tracked, b_done, a_go = threading.Event(), threading.Event(), threading.Event()
    frames = {}

    def chunk(name, first, wait):
        with cache.tracked():
            frames[name] = [cache.tracked_persist(_Frame()) for _ in range(2)]
            first.set()
            assert wait.wait(10)
            released.append((name, cache.release_all()))

    released = []
    a = threading.Thread(target=chunk, name="a", args=("a", a_tracked, a_go))
    a.start()
    assert a_tracked.wait(10)
    b = threading.Thread(target=chunk, name="b", args=("b", threading.Event(), b_done))
    b_done.set()
    b.start()
    b.join(10)
    assert not b.is_alive()
    outside = cache.tracked_persist(_Frame())
    assert cache.release_all() == 1 and outside.released_by == ["MainThread"]
    assert all(f.released_by == ["b"] for f in frames["b"])
    assert all(f.released_by == [] for f in frames["a"])  # a is still in flight
    a_go.set()
    a.join(10)
    assert not a.is_alive()
    assert all(f.released_by == ["a"] for f in frames["a"])
    assert released == [("b", 2), ("a", 2)]
    assert cache.tracked_count() == 0


def test_tracked_blocks_stress():
    """More threads than cores, each in its own block with a nested block,
    tracking and releasing under a short switch interval: every frame is
    released once, by the thread that tracked it, and nothing is left."""
    cache.release_all()
    n_threads, n_frames = 8, 200
    errors = []

    def worker():
        me = threading.current_thread().name
        try:
            with cache.tracked():
                mine = [cache.tracked_persist(_Frame()) for _ in range(n_frames)]
                with cache.tracked():
                    inner = [cache.tracked_persist(_Frame()) for _ in range(n_frames)]
                assert all(f.released_by == [me] for f in inner)
                assert all(f.released_by == [] for f in mine)
                assert cache.release_all() == n_frames
            assert all(f.released_by == [me] for f in mine)
        except AssertionError as e:  # pragma: no cover - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert cache.tracked_count() == 0
