import pandas as pd
import pytest

from engine.asof import asof_join
from tests.oracle import assert_frames_allclose, oracle_asof


@pytest.fixture(scope="module")
def pdata(seq_fixtures):
    probes = seq_fixtures["probes"].toPandas()
    state = seq_fixtures["seq_events"].toPandas()
    return probes, state


@pytest.mark.parametrize("strategy", ["union", "merge", "bucketed"])
@pytest.mark.parametrize("strict", [False, True])
def test_asof_matches_pandas_oracle(seq_fixtures, pdata, strategy, strict):
    got = asof_join(
        seq_fixtures["probes"],
        seq_fixtures["seq_events"],
        on="doc_id",
        probe_ts="asof_ts",
        state_ts="ts",
        values=["fvalue", "fcat"],
        strict=strict,
        strategy=strategy,
    ).toPandas()
    probes, state = pdata
    want = oracle_asof(
        probes, state, "doc_id", "asof_ts", "ts", ["fvalue", "fcat"], strict=strict
    )
    assert_frames_allclose(got, want)


def test_all_strategies_agree(seq_fixtures):
    kw = dict(
        on="doc_id", probe_ts="asof_ts", state_ts="ts", values=["fvalue", "fcat"]
    )
    u = asof_join(seq_fixtures["probes"], seq_fixtures["seq_events"], strategy="union", **kw).toPandas()
    m = asof_join(seq_fixtures["probes"], seq_fixtures["seq_events"], strategy="merge", **kw).toPandas()
    b = asof_join(seq_fixtures["probes"], seq_fixtures["seq_events"], strategy="bucketed", **kw).toPandas()
    assert_frames_allclose(u, m)
    assert_frames_allclose(u, b)


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("hot_threshold", [None, 10])
def test_hybrid_matches_oracle(seq_fixtures, pdata, strict, hot_threshold):
    """The production skew path: an as-of plan lowered with hot_keys runs
    the fused chain. hot_threshold=10 routes every key with >= 10
    probe+state rows (the hot doc and part of the long tail) hot, so hot
    keys are time-split by 6-hour buckets and the rest stay one window
    group each; None uses the job's own routing rule
    (``straggler_hot_keys``), which routes nothing at fixture size, so the
    plan lowers plainly. Every case must match the merge_asof oracle."""
    from engine.plan import FeatureEngine, _fused_split
    from engine.skew import detect_hot_keys, straggler_hot_keys

    probes, state = seq_fixtures["probes"], seq_fixtures["seq_events"]
    ids = probes.select("doc_id").unionByName(state.select("doc_id"))
    if hot_threshold is None:
        cores = probes.sparkSession.sparkContext.defaultParallelism
        hot = straggler_hot_keys(ids, "doc_id", ids.count(), cores=cores)
        assert hot == []
    else:
        hot = detect_hot_keys(ids, "doc_id", hot_threshold)
        n_docs = state.select("doc_id").distinct().count()
        assert 0 < len(hot) < n_docs, "want both hot and cold keys"
    eng = FeatureEngine(probes, entity="doc_id", ts="asof_ts").asof(
        state, values=["fvalue", "fcat"], strict=strict
    )
    assert _fused_split(eng.plan) is not None
    got = eng.to_df(hot_keys=hot, bucket="6 hours").toPandas()
    want = oracle_asof(*pdata, "doc_id", "asof_ts", "ts", ["fvalue", "fcat"], strict=strict)
    assert_frames_allclose(got, want)


def test_bucketed_tiny_buckets_cross_bucket_carry(seq_fixtures):
    """1-hour buckets over a 30-day span: most probes resolve via the
    cross-bucket carry table, not the in-bucket window."""
    kw = dict(
        on="doc_id", probe_ts="asof_ts", state_ts="ts", values=["fvalue", "fcat"]
    )
    u = asof_join(seq_fixtures["probes"], seq_fixtures["seq_events"], strategy="union", **kw).toPandas()
    b = asof_join(
        seq_fixtures["probes"], seq_fixtures["seq_events"],
        strategy="bucketed", bucket="1 hour", **kw,
    ).toPandas()
    assert_frames_allclose(u, b)


def test_asof_last_row_not_last_nonnull(spark):
    """Probe after (v=1.0, v=NULL) must see NULL (merge_asof row semantics)."""
    state = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a"],
                "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00"]),
                "v": [1.0, None],
            }
        )
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": pd.to_datetime(["2024-01-01 02:00:00"])})
    )
    for strategy in ("union", "merge", "bucketed"):
        row = asof_join(probes, state, on="k", strategy=strategy).collect()[0]
        assert row["v"] is None, strategy


def test_asof_no_state_entity_yields_nulls(spark):
    state = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a"], "ts": pd.to_datetime(["2024-01-01"]), "v": [5.0]}
        )
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "ts": pd.to_datetime(["2024-06-01"] * 2)})
    )
    for strategy in ("union", "merge", "bucketed"):
        got = {
            r["k"]: r["v"]
            for r in asof_join(probes, state, on="k", strategy=strategy).collect()
        }
        assert got["a"] == 5.0 and got["b"] is None, strategy


def test_asof_include_state_ts(seq_fixtures):
    got = asof_join(
        seq_fixtures["probes"],
        seq_fixtures["seq_events"],
        on="doc_id",
        probe_ts="asof_ts",
        state_ts="ts",
        values=["fvalue"],
        include_state_ts="matched_ts",
    )
    pdf = got.toPandas()
    ok = pdf.dropna(subset=["matched_ts"])
    assert (ok["matched_ts"] <= ok["asof_ts"]).all()
