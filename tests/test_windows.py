import numpy as np
import pandas as pd
import pytest

from engine.window_ops import (
    backward_fill,
    cumulative_stats,
    forward_fill,
    lag_features,
    rolling_aggregates,
    sessionize,
    top_k_per_group,
)
from tests.oracle import oracle_ffill, oracle_rolling, oracle_sessionize


@pytest.fixture(scope="module")
def events(seq_fixtures):
    return seq_fixtures["seq_events"]


@pytest.fixture(scope="module")
def pevents(events):
    return events.toPandas()


def _aligned(spark_pdf, col):
    return spark_pdf.sort_values(["doc_id", "ts"], kind="mergesort")[col].reset_index(drop=True)


def test_forward_fill(events, pevents):
    got = forward_fill(events, "doc_id", "ts", ["fvalue"]).toPandas()
    want = oracle_ffill(pevents, "doc_id", "ts", "fvalue").reset_index(drop=True)
    g = _aligned(got, "fvalue_ffill")
    assert np.allclose(g.astype(float), want.astype(float), equal_nan=True)


def test_backward_fill(events, pevents):
    got = backward_fill(events, "doc_id", "ts", ["fvalue"]).toPandas()
    p = pevents.sort_values(["doc_id", "ts"], kind="mergesort")
    want = p.groupby("doc_id")["fvalue"].bfill().reset_index(drop=True)
    g = _aligned(got, "fvalue_bfill")
    assert np.allclose(g.astype(float), want.astype(float), equal_nan=True)


def test_lag_lead(events, pevents):
    got = lag_features(events, "doc_id", "ts", ["fvalue"], lags=[1, 2], leads=[1]).toPandas()
    p = pevents.sort_values(["doc_id", "ts"], kind="mergesort")
    for col, shift in [("fvalue_lag1", 1), ("fvalue_lag2", 2), ("fvalue_lead1", -1)]:
        want = p.groupby("doc_id")["fvalue"].shift(shift).reset_index(drop=True)
        g = _aligned(got, col)
        assert np.allclose(g.astype(float), want.astype(float), equal_nan=True), col


def test_sessionize(events, pevents):
    gap = "6 hours"
    got = sessionize(events, "doc_id", "ts", gap=gap).toPandas()
    want = oracle_sessionize(pevents, "doc_id", "ts", 6 * 3600).reset_index(drop=True)
    g = _aligned(got, "session_id")
    assert (g.astype("int64").values == want.astype("int64").values).all()


@pytest.mark.parametrize("method", ["frame", "prefix"])
@pytest.mark.parametrize("fn", ["count", "sum", "avg"])
def test_rolling(events, pevents, fn, method):
    got = rolling_aggregates(
        events, "doc_id", "ts", {"fvalue": [fn]}, window="2 days", method=method
    ).toPandas()
    want = oracle_rolling(pevents, "doc_id", "ts", "fvalue", 2 * 86400, fn)
    want = want.reset_index(drop=True)
    g = _aligned(got, f"fvalue_{fn}_2days")
    assert np.allclose(g.astype(float), want.astype(float), equal_nan=True)


def test_rolling_stddev_methods_agree(events):
    f = rolling_aggregates(
        events, "doc_id", "ts", {"fvalue": ["stddev"]}, window="2 days", method="frame"
    ).toPandas()
    p = rolling_aggregates(
        events, "doc_id", "ts", {"fvalue": ["stddev"]}, window="2 days", method="prefix"
    ).toPandas()
    key = ["doc_id", "ts"]
    f = f.sort_values(key, kind="mergesort").reset_index(drop=True)
    p = p.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert np.allclose(
        f["fvalue_stddev_2days"].astype(float),
        p["fvalue_stddev_2days"].astype(float),
        equal_nan=True,
    )


@pytest.mark.parametrize("window", ["1 hour", 3600])
@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
@pytest.mark.parametrize("method", ["frame", "prefix"])
def test_rolling_microsecond_boundary(spark, method, ts_type, window):
    """The window [t − W, t] is exact to the microsecond: a row exactly W
    before t is counted (entity "a"), a row W + 1µs before is not ("b")."""
    from pyspark.sql import functions as F

    t, w = 1_700_000_000_000_000, 3_600_000_000
    rows = [("a", t - w, 1.0), ("a", t, 10.0), ("b", t - w - 1, 1.0), ("b", t, 10.0)]
    df = spark.createDataFrame(rows, "e string, us long, v double").select(
        "e", F.timestamp_micros("us").cast(ts_type).alias("ts"), "v"
    )
    suf = "1hour" if isinstance(window, str) else "3600s"
    got = rolling_aggregates(
        df, "e", "ts", {"v": ["count", "sum"]}, window=window, method=method
    ).where(F.col("v") == 10.0)
    assert {r["e"]: (r[f"v_count_{suf}"], r[f"v_sum_{suf}"]) for r in got.collect()} == {
        "a": (2, 11.0), "b": (1, 10.0),
    }


def test_rolling_rejects_non_timestamp_ts(events):
    from pyspark.sql import functions as F

    df = events.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")))
    for method in ("frame", "prefix"):
        with pytest.raises(ValueError, match="TIMESTAMP or TIMESTAMP_NTZ"):
            rolling_aggregates(df, "doc_id", "ts", {"fvalue": ["sum"]}, method=method)


def test_rolling_prefix_rejects_minmax(events):
    with pytest.raises(ValueError, match="prefix"):
        rolling_aggregates(
            events, "doc_id", "ts", {"fvalue": ["min"]}, window="1 day", method="prefix"
        )


def test_cumulative(events, pevents):
    got = cumulative_stats(events, "doc_id", "ts", {"fvalue": ["sum", "count"]}).toPandas()
    p = pevents.sort_values(["doc_id", "ts"], kind="mergesort")
    # SQL SUM over a running frame ignores nulls (emits the running sum on a
    # null row); pandas cumsum emits NaN there — forward-fill within the group.
    want_sum = (
        p.assign(_cs=p.groupby("doc_id")["fvalue"].cumsum())
        .groupby("doc_id")["_cs"]
        .ffill()
        .reset_index(drop=True)
    )
    g = _aligned(got, "fvalue_cumsum")
    assert np.allclose(g.astype(float), want_sum.astype(float), equal_nan=True)
    want_cnt = (
        p["fvalue"].notna().groupby(p["doc_id"]).cumsum().reset_index(drop=True)
    )
    g = _aligned(got, "fvalue_cumcount")
    assert (g.astype("int64").values == want_cnt.astype("int64").values).all()


def test_top_k_per_group(events, pevents):
    got = top_k_per_group(events, "doc_id", "ts", k=1, desc=True, tiebreak="fcat").toPandas()
    want_n = pevents["doc_id"].nunique()
    assert len(got) == want_n
    p_max = pevents.groupby("doc_id")["ts"].max()
    g = got.set_index("doc_id")["ts"]
    assert (g.sort_index() == p_max.sort_index()).all()
