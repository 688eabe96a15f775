"""Zero-temporal-leakage property test (BASELINE.json:6; SURVEY.md §5.3).

For a cutoff T: every probe with asof_ts <= T must produce IDENTICAL features
when (a) all state rows with ts > T are deleted, and (b) their values are
replaced with garbage. Run for both tie policies, on the as-of operator and
on the skew path: the flagship-shaped FeaturePlan (asof → lag → sessionize →
prefix rolling) with the fixture's hot doc_id time-split by the fused chain,
where a probe can read state through a cross-bucket carry.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.asof import asof_join
from engine.plan import FeatureEngine
from tests.oracle import assert_frames_allclose

CUTOFF = "2024-01-15 00:00:00"
HOT = "doc000000000000"  # the fixture's skewed entity (~20% of events)


def _features(probes, state, strict, path):
    kw = dict(values=["fvalue", "fcat"], strict=strict)
    if path == "union":
        out = asof_join(
            probes, state, on="doc_id", probe_ts="asof_ts", state_ts="ts", **kw
        )
    else:
        out = (
            FeatureEngine(probes, entity="doc_id", ts="asof_ts")
            .asof(state, suffix="_last", **kw)
            .lag(["fvalue_last"], lags=[1, 2])
            .sessionize("1 hour")
            .rolling({"fvalue_last": ["count", "sum", "avg"]}, "1 day", method="prefix")
            .to_df(hot_keys=[HOT], bucket="6 hours")
        )
    return out.toPandas()


@pytest.mark.parametrize("path", ["union", "fused_hot"])
@pytest.mark.parametrize("strict", [False, True])
def test_no_temporal_leakage(seq_fixtures, strict, path):
    probes = seq_fixtures["probes"].where(F.col("asof_ts") <= F.lit(CUTOFF))
    state = seq_fixtures["seq_events"]
    base = _features(probes, state, strict, path)

    # (a) delete the future
    truncated = state.where(F.col("ts") <= F.lit(CUTOFF))
    got_a = _features(probes, truncated, strict, path)
    assert_frames_allclose(base, got_a)

    # (b) garble the future
    garbled = state.withColumn(
        "fvalue",
        F.when(F.col("ts") > F.lit(CUTOFF), F.lit(-9.9e12)).otherwise(F.col("fvalue")),
    ).withColumn(
        "fcat",
        F.when(F.col("ts") > F.lit(CUTOFF), F.lit("GARBAGE")).otherwise(F.col("fcat")),
    )
    got_b = _features(probes, garbled, strict, path)
    assert_frames_allclose(base, got_b)


def test_leakage_safe_window_set(seq_fixtures):
    """ffill/lag/sessionize/rolling/cumulative over events <= T are unchanged
    when future events are garbled (they only ever look backward)."""
    from engine.window_ops import (
        cumulative_stats, forward_fill, lag_features, rolling_aggregates, sessionize,
    )

    ev = seq_fixtures["seq_events"]

    def pipeline(df):
        out = forward_fill(df, "doc_id", "ts", ["fvalue"])
        out = lag_features(out, "doc_id", "ts", ["fvalue"], lags=[1, 2])
        out = sessionize(out, "doc_id", "ts", gap="6 hours")
        out = rolling_aggregates(out, "doc_id", "ts", {"fvalue": ["count", "sum"]}, window="1 day")
        out = cumulative_stats(out, "doc_id", "ts", {"fvalue": ["sum"]})
        return out.where(F.col("ts") <= F.lit(CUTOFF)).toPandas()

    base = pipeline(ev.where(F.col("ts") <= F.lit(CUTOFF)))
    garbled = ev.withColumn(
        "fvalue",
        F.when(F.col("ts") > F.lit(CUTOFF), F.lit(-9.9e12)).otherwise(F.col("fvalue")),
    )
    got = pipeline(garbled)
    assert_frames_allclose(base, got)
