"""Cache lifecycle: operator-internal persists are tracked and released.

A long-running job (chunked featuregen, a bench process running many
queries) must not accumulate cache blocks — every persist the engine
creates internally has to be droppable via ``engine.cache.release_all``.
"""

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
