"""Equality of the fused hot-key feature chain (engine.fused — two wide
shuffles) with the composition of the public operators it replaces:
asof_join → lag_features → sessionize → rolling_aggregates(prefix).
"""

import io
import logging
import re
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.asof import asof_join
from engine.fused import fused_feature_chain
from engine.plan import FeatureEngine
from engine.window_ops import forward_fill, lag_features, rolling_aggregates, sessionize

GAP = "1 hour"
WIN = "1 day"


@pytest.fixture(scope="module")
def sides(seq_fixtures):
    ev = seq_fixtures["seq_events"]
    # unique (doc_id, asof_ts) so lag/session ordering is deterministic and
    # the row-level comparison is well-defined (the raw probe fixture holds
    # deliberate duplicate ties for the as-of oracle queries)
    probes = (
        seq_fixtures["probes"].distinct()
        .withColumn("probe_id", F.xxhash64("doc_id", "asof_ts"))
        .cache()
    )
    return probes, ev


def reference_chain(probes, ev, window=WIN, gap=GAP):
    f = asof_join(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
    )
    f = lag_features(f, "doc_id", "asof_ts", ["fvalue_last"], lags=[1, 2])
    f = sessionize(f, "doc_id", "asof_ts", gap=gap)
    return rolling_aggregates(
        f, "doc_id", "asof_ts", {"fvalue_last": ["count", "sum", "avg"]},
        window=window, method="prefix",
    )


def all_ids(probes):
    return [r[0] for r in probes.select("doc_id").distinct().collect()]


def fused_chain(probes, ev, bucket, window=WIN, gap=GAP):
    """Every probe entity hot: all of them time-split by ``bucket``."""
    return fused_chain_hybrid(probes, ev, bucket, all_ids(probes), window, gap)


def assert_equal(ref, fus):
    key = ["doc_id", "asof_ts", "probe_id"]
    assert sorted(ref.columns) == sorted(fus.columns)
    a = ref.toPandas().sort_values(key, kind="mergesort").reset_index(drop=True)
    b = (
        fus.select(*ref.columns).toPandas()
        .sort_values(key, kind="mergesort").reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["doc_id"].values == b["doc_id"].values).all()
    for c in ref.columns:
        if c in ("doc_id", "fcat_last"):
            assert (
                a[c].fillna("__N").values == b[c].fillna("__N").values
            ).all(), c
        elif a[c].dtype.kind in "fiu" or c.startswith("fvalue"):
            assert np.allclose(
                a[c].astype(float), b[c].astype(float), equal_nan=True
            ), c
        else:
            assert (a[c].values == b[c].values).all(), c


@pytest.mark.parametrize("bucket", ["6 hours", "2 days"])
def test_fused_matches_composition(sides, bucket):
    probes, ev = sides
    assert_equal(reference_chain(probes, ev), fused_chain(probes, ev, bucket))


def test_fused_tiny_buckets_exercise_carries(sides):
    """Bucket far smaller than the event spacing: every bucket holds ~1 row,
    so every lag/session/rolling answer crosses buckets via the carries."""
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev, window="6 hours"),
        fused_chain(probes, ev, "17 minutes", window="6 hours"),
    )


def test_fused_window_smaller_than_bucket(sides):
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev, window="30 minutes"),
        fused_chain(probes, ev, "2 days", window="30 minutes"),
    )


HOT = "doc000000000000"  # the fixture's skewed entity (~20% of events)


@pytest.mark.parametrize("bucket", ["6 hours", "47 minutes"])
def test_fused_hybrid_matches_composition(sides, bucket):
    """hot_keys= mode: hot entities time-bucketed, cold entities plain —
    one plan, same rows as the composition for BOTH populations."""
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, bucket, hot_keys=[HOT]),
    )


def test_fused_hybrid_multi_hot(sides):
    probes, ev = sides
    hot = [HOT, "doc000000000007", "doc000000000033"]
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, "6 hours", hot_keys=hot),
    )


def test_fused_hybrid_negative_values(spark):
    """A hot entity's rolling sums carry each bucket's total into later
    buckets; with negative values the total is the bucket's last running
    sum, not its largest one. Half-hourly states of alternating sign, 1-hour
    buckets, a 3-hour window: every probe's sum crosses buckets."""
    hour, t0 = 3_600_000_000, 1_700_000_000_000_000
    vals = [5, -7, 3, -9, 4, -1, 2, -6]
    state = spark.createDataFrame(
        [("a", t0 + i * hour // 2, float(v)) for i, v in enumerate(vals)],
        "e string, us long, v double",
    ).select("e", F.timestamp_micros("us").alias("ts"), "v")
    probes = spark.createDataFrame(
        [("a", t0 + i * hour // 2 + 1, i) for i in range(len(vals))],
        "e string, us long, pid long",
    ).select("e", F.timestamp_micros("us").alias("ts"), "pid")
    kw = dict(
        on="e", probe_ts="ts", values=["v"], suffix="_last",
        rolling={"v_last": ["count", "sum"]}, rolling_window="3 hours",
        bucket="1 hour",
    )
    out = ["pid", "v_last_count_3hours", "v_last_sum_3hours"]
    ref = fused_feature_chain(probes, state, hot_keys=[], **kw).select(*out)
    hot = fused_feature_chain(probes, state, hot_keys=["a"], **kw).select(*out)
    assert sorted(hot.collect()) == sorted(ref.collect())


def test_fused_hybrid_all_hot(sides):
    """Every entity hot: the whole frame is time-split."""
    probes, ev = sides
    assert_equal(
        reference_chain(probes, ev),
        fused_chain_hybrid(probes, ev, "6 hours", hot_keys=all_ids(probes)),
    )


def n_exchanges(df):
    """Real exchanges in the formatted physical plan, counted like
    scripts/audit_plans.py on detail headers (reused subtrees once)."""
    return plan_ops(df)[0]


def fused_chain_hybrid(probes, ev, bucket, hot_keys, window=WIN, gap=GAP):
    return fused_feature_chain(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
        lag_cols=["fvalue_last"], lags=[1, 2],
        session_gap=gap, rolling={"fvalue_last": ["count", "sum", "avg"]},
        rolling_window=window, bucket=bucket, hot_keys=hot_keys,
    )


def test_plan_lowering_routes_through_fused(sides):
    """FeaturePlan hybrid lowering (engine.plan.lower hot_keys=...) compiles
    the asof→lag→sessionize→rolling pattern to the fused chain: results
    equal the composition of the public operators, and the physical plan
    carries the fused shape's exchange budget instead of the per-op hot
    branch's ~10."""
    probes, ev = sides
    hybrid = flagship_plan(probes, ev).to_df(hot_keys=[HOT], bucket="6 hours")
    assert_equal(reference_chain(probes, ev), hybrid)
    # plan shape: the lowering must emit EXACTLY the fused plan (same real
    # exchange count as calling fused_feature_chain directly). Absolute caps
    # live in the plan audit, which runs on uncached parquet inputs.
    direct = fused_chain_hybrid(probes, ev, "6 hours", hot_keys=[HOT])
    from engine.plan import _fused_split

    assert _fused_split(flagship_plan(probes, ev).plan) is not None
    assert n_exchanges(hybrid) == n_exchanges(direct), (
        n_exchanges(hybrid), n_exchanges(direct))


def flagship_plan(probes, ev):
    from engine.plan import FeatureEngine

    return (
        FeatureEngine(probes, entity="doc_id", ts="asof_ts")
        .asof(ev, values=["fvalue", "fcat"], suffix="_last")
        .lag(["fvalue_last"], lags=[1, 2])
        .sessionize(GAP)
        .rolling({"fvalue_last": ["count", "sum", "avg"]}, WIN, method="prefix")
    )


# a sliding RANGE frame ``[t − W, t]`` in formatted-plan text
SLIDING_FRAME = r"RangeFrame, INTERVAL '-[\d.]+' SECOND, currentrow\$\(\)"


def plan_ops(df):
    """(Exchange, Sort, Window, Generate) counts and the formatted plan."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    n = [
        len(re.findall(rf"^\(\d+\) {op}\b", p, re.M))
        for op in ("Exchange", "Sort", "Window", "Generate")
    ]
    return (*n, p)


@pytest.fixture(scope="module")
def parquet_sides(sides, spark, tmp_path_factory):
    """``sides`` read back from parquet: a cached input's own exchanges
    would show in the formatted plan, so absolute counts need a scan."""
    root = tmp_path_factory.mktemp("fused_sides")
    out = []
    for name, df in zip(("probes", "ev"), sides):
        df.write.parquet(str(root / name))
        out.append(spark.read.parquet(str(root / name)))
    return tuple(out)


@pytest.mark.parametrize("path", ["lowering", "direct"])
def test_no_hot_key_chain_is_one_exchange_one_sort(parquet_sides, path):
    """With no hot keys the chain reuses the as-of's sort: every later
    window orders by a prefix of it, and the rolling cutoff is a growing
    RANGE frame, not an explode — 1 Exchange, 1 Sort, no Generate, and no
    sliding frame. Rows equal the public-operator composition."""
    probes, ev = parquet_sides
    if path == "lowering":
        df = flagship_plan(probes, ev).to_df()
    else:
        df = fused_chain_hybrid(probes, ev, "6 hours", hot_keys=[])
    n_ex, n_sort, _n_win, n_gen, p = plan_ops(df)
    assert (n_ex, n_sort, n_gen) == (1, 1, 0), p
    assert "RangeFrame, unboundedpreceding$(), INTERVAL '-86400.000001' SECOND)" in p, p
    assert not re.search(SLIDING_FRAME, p), p
    assert_equal(reference_chain(probes, ev), df)


def hand_composed(probes, ev, strict, method):
    f = asof_join(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last", strict=strict,
    )
    f = forward_fill(f, "doc_id", "asof_ts", ["fvalue_last"], out_suffix="_f")
    f = lag_features(f, "doc_id", "asof_ts", ["fvalue_last"], lags=[1, 2])
    f = sessionize(f, "doc_id", "asof_ts", gap=GAP)
    return rolling_aggregates(
        f, "doc_id", "asof_ts", {"fvalue_last": ["count", "sum", "avg"]},
        window=WIN, method=method,
    )


@pytest.mark.parametrize("method", ["frame", "prefix"])
@pytest.mark.parametrize("strict", [False, True])
def test_hand_composed_chain_is_one_sort(parquet_sides, strict, method):
    """The public operators composed by hand share the as-of's sort: each
    later window orders by the bare ts column (a prefix of the as-of's
    ``(entity, ts, tag)`` order) and its functions read bare columns, so
    Catalyst merges adjacent windows. 1 Exchange, 1 Sort, 3 Windows (the
    as-of; ffill + lags + the session flag's lag; the session sum + the
    rolling frames), no Generate — for both tie policies and both rolling
    methods. ``fused_feature_chain(hot_keys=[])`` and the plain
    ``FeatureEngine`` lowering are that same chain."""
    probes, ev = parquet_sides
    fused = fused_feature_chain(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last", strict=strict,
        ffill_cols=["fvalue_last"], ffill_suffix="_f",
        lag_cols=["fvalue_last"], lags=[1, 2], session_gap=GAP,
        rolling={"fvalue_last": ["count", "sum", "avg"]}, rolling_window=WIN,
        hot_keys=[],
    )
    lowered = (
        FeatureEngine(probes, entity="doc_id", ts="asof_ts")
        .asof(ev, values=["fvalue", "fcat"], suffix="_last", strict=strict)
        .ffill(["fvalue_last"])
        .lag(["fvalue_last"], lags=[1, 2])
        .sessionize(GAP)
        .rolling({"fvalue_last": ["count", "sum", "avg"]}, WIN, method=method)
        .to_df()
    )
    for df in (hand_composed(probes, ev, strict, method), fused, lowered):
        n_ex, n_sort, n_win, n_gen, p = plan_ops(df)
        assert (n_ex, n_sort, n_win, n_gen) == (1, 1, 3, 0), p


def test_plan_lowering_fused_fallback_on_leads(sides):
    """A lag step with leads can't fuse (carries are backward-only): the
    lowering ignores the hot keys and lowers plainly, still correct."""
    from engine.plan import FeatureEngine

    probes, ev = sides

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .lag(["fvalue_last"], lags=[1], leads=[1])
        )

    plain = build().to_df().toPandas()
    hybrid = build().to_df(hot_keys=[HOT], bucket="6 hours").toPandas()
    key = ["doc_id", "asof_ts", "probe_id"]
    a = plain.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = hybrid[plain.columns].sort_values(key, kind="mergesort").reset_index(drop=True)
    for c in plain.columns:
        if a[c].dtype.kind in "fiu":
            assert np.allclose(
                a[c].astype(float), b[c].astype(float), equal_nan=True
            ), c


def test_plan_lowering_unfusable_lowers_plainly(sides, caplog):
    """asof → rolling min/max cannot fuse (min/max need the frame method):
    under hot_keys it lowers exactly like the plain plan — same rows, same
    exchanges — and logs that its hot keys were ignored."""
    from engine.plan import FeatureEngine, _fused_split

    probes, ev = sides

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .rolling({"fvalue_last": ["min", "max"]}, WIN)
        )

    assert _fused_split(build().plan) is None
    plain = build().to_df()
    with caplog.at_level(logging.WARNING, logger="engine.plan"):
        hot = build().to_df(hot_keys=[HOT], bucket="6 hours")
    assert any("hot_keys are ignored" in r.getMessage() for r in caplog.records)
    assert n_exchanges(hot) == n_exchanges(plain)
    key = ["doc_id", "asof_ts", "probe_id"]
    a = plain.toPandas().sort_values(key, kind="mergesort").reset_index(drop=True)
    b = hot.toPandas().sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_plan_lowering_frame_rolling_is_bit_exact(sides, caplog):
    """A rolling step with the default method='frame' does not fuse (the
    fused chain computes the prefix decomposition): with or without hot
    keys it lowers to exactly ``asof_join`` → ``rolling_aggregates(
    method="frame")`` — bit-equal rows both ways, a sliding RANGE frame in
    the plan — and with hot keys it logs that they were ignored."""
    from engine.plan import FeatureEngine, _fused_split

    probes, ev = sides
    aggs = {"fvalue_last": ["sum", "avg", "stddev"]}

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue"], suffix="_last")
            .rolling(aggs, WIN)
        )

    assert _fused_split(build().plan) is None
    ref = rolling_aggregates(
        asof_join(probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
                  values=["fvalue"], suffix="_last"),
        "doc_id", "asof_ts", aggs, window=WIN, method="frame",
    )
    for hot in (None, [HOT]):
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="engine.plan"):
            df = build().to_df(hot_keys=hot, bucket="6 hours").select(*ref.columns)
        assert df.exceptAll(ref).count() == 0
        assert ref.exceptAll(df).count() == 0
        p = plan_ops(df)[-1]
        assert re.search(SLIDING_FRAME, p), p
        ignored = any("hot_keys are ignored" in r.getMessage() for r in caplog.records)
        assert ignored == bool(hot)


def test_featuregen_plan_fuses(sides):
    """The production job's plan must keep matching the fused pattern, or
    its detected hot keys would silently stop being time-split."""
    from engine.plan import _fused_split
    from jobs.featuregen import build_features

    probes, ev = sides
    _df, plan = build_features(
        probes, ev, "doc_id", "asof_ts", ["fvalue", "fcat"], "30 minutes", [1, 2]
    )
    assert _fused_split(plan) is not None


@pytest.mark.parametrize("bucket,hot", [("6 hours", None), ("47 minutes", [HOT]), ("6 hours", [])])
def test_fused_ffill_matches_composition(sides, bucket, hot):
    """ffill_cols= (W1 inside the fused chain): in-bucket last(ignorenulls)
    + cross-bucket last-non-null carry must equal composing forward_fill
    after the as-of join — all ids hot (``None``), one hot, and none hot.
    fvalue_last is null for before-first probes and for null state values,
    so the fill is genuinely exercised across bucket boundaries."""
    from engine.window_ops import forward_fill

    probes, ev = sides
    if hot is None:
        hot = all_ids(probes)
    ref = forward_fill(
        reference_chain(probes, ev), "doc_id", "asof_ts", ["fvalue_last"]
    )
    fus = fused_feature_chain(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
        lag_cols=["fvalue_last"], lags=[1, 2],
        session_gap=GAP, rolling={"fvalue_last": ["count", "sum", "avg"]},
        rolling_window=WIN, bucket=bucket, hot_keys=hot,
        ffill_cols=["fvalue_last"],
    )
    assert_equal(ref, fus)


def test_fused_ffill_rejects_dependent_lag(sides):
    """lag over an ffill OUTPUT column must raise (the fused assembly
    computes fills after the in-bucket lag expressions)."""
    probes, ev = sides
    with pytest.raises(ValueError, match="ffill outputs"):
        fused_feature_chain(
            probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
            values=["fvalue"], suffix="_last",
            ffill_cols=["fvalue_last"], ffill_suffix="_f",
            lag_cols=["fvalue_last_f"], lags=[1],
        )


def test_plan_lowering_fuses_ffill(sides):
    """A FeaturePlan with an ffill step still fuses (order-neutral) and
    matches the public-operator composition, with and without hot keys."""
    from engine.plan import FeatureEngine, _fused_split
    from engine.window_ops import forward_fill

    probes, ev = sides

    def build():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .ffill(["fvalue_last"])
            .lag(["fvalue_last"], lags=[1])
            .sessionize(GAP)
        )

    assert _fused_split(build().plan) is not None
    ref = asof_join(
        probes, ev, on="doc_id", probe_ts="asof_ts", state_ts="ts",
        values=["fvalue", "fcat"], suffix="_last",
    )
    ref = forward_fill(ref, "doc_id", "asof_ts", ["fvalue_last"], out_suffix="_f")
    ref = lag_features(ref, "doc_id", "asof_ts", ["fvalue_last"], lags=[1])
    ref = sessionize(ref, "doc_id", "asof_ts", gap=GAP)
    for hot in ([], [HOT]):
        assert_equal(ref, build().to_df(hot_keys=hot, bucket="6 hours"))
    # lag over the ffill OUTPUT cannot fuse — falls back, still matches
    def build_dep():
        return (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(ev, values=["fvalue", "fcat"], suffix="_last")
            .ffill(["fvalue_last"])
            .lag(["fvalue_last_f"], lags=[1])
        )

    assert _fused_split(build_dep().plan) is None
    # nor can rolling over a lag OUTPUT: it lowers plainly and still runs
    roll_lag = (
        FeatureEngine(probes, entity="doc_id", ts="asof_ts")
        .asof(ev, values=["fvalue"], suffix="_last")
        .lag(["fvalue_last"], lags=[1])
        .rolling({"fvalue_last_lag1": ["sum"]}, WIN, method="prefix")
    )
    assert _fused_split(roll_lag.plan) is None
    assert roll_lag.to_df().count() == probes.count()


def test_fused_no_state_rows(sides, spark):
    """Probes with an empty state side: all as-of values null, lags null,
    sessions and rolling still defined over the probe frame."""
    probes, ev = sides
    empty = ev.where(F.lit(False))
    assert_equal(reference_chain(probes, empty), fused_chain(probes, empty, "6 hours"))


def test_fused_leakage_free(sides):
    """No fused output can depend on state rows after the probe ts: removing
    all future state rows per probe leaves fvalue_last identical (spot-check
    via max state ts ≤ probe ts join)."""
    probes, ev = sides
    out = fused_chain(probes, ev, "6 hours")
    joined = out.join(
        ev.select("doc_id", F.col("ts").alias("state_ts"), F.col("fvalue").alias("sv")),
        on="doc_id",
    )
    # any probe whose fvalue_last matches ONLY future rows would be leakage;
    # verify every non-null fvalue_last has a matching state row at ts <= probe ts
    ok = joined.where(
        (F.col("sv") == F.col("fvalue_last")) & (F.col("state_ts") <= F.col("asof_ts"))
    ).select("doc_id", "probe_id").distinct()
    has_val = out.where(F.col("fvalue_last").isNotNull()).select(
        "doc_id", "probe_id"
    ).distinct()
    assert has_val.join(ok, ["doc_id", "probe_id"], "left_anti").count() == 0
