"""FeaturePlan IR (§3.1/3.3) and Structured Streaming analogues (§2.8)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.io import read_table
from engine.plan import FeatureEngine, FeaturePlan, lower
from engine.streaming import (
    file_stream,
    run_available_now,
    session_window_agg,
    stateful_ffill,
    windowed_agg,
)
from engine.window_ops import lag_features, sessionize


def _probe_state(spark, sf_dir):
    e = read_table(spark, sf_dir, "events")
    probes = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    state = e.where(F.col("event_type") != "click").select(
        "user_id", "ts", "value", F.col("event_type").alias("etype")
    )
    return probes, state


def test_plan_lowering_equals_direct_composition(spark, sf_dir):
    from engine.asof import asof_join

    probes, state = _probe_state(spark, sf_dir)
    fluent = (
        FeatureEngine(probes, entity="user_id", ts="ts")
        .asof(state, values=["value", "etype"], suffix="_last")
        .lag(["value_last"], lags=[1])
        .sessionize("30 minutes")
        .to_df()
    )
    direct = asof_join(
        probes, state, on="user_id", probe_ts="ts", state_ts="ts",
        values=["value", "etype"], suffix="_last",
    )
    direct = lag_features(direct, "user_id", "ts", ["value_last"], lags=[1])
    direct = sessionize(direct, "user_id", "ts", gap="30 minutes")
    assert fluent.exceptAll(direct).count() == 0
    assert direct.exceptAll(fluent).count() == 0


def test_plan_roundtrips_as_lineage(spark, sf_dir):
    probes, state = _probe_state(spark, sf_dir)
    eng = (
        FeatureEngine(probes, entity="user_id", ts="ts")
        .asof(state, values=["value"], suffix="_last")
        .lag(["value_last"], lags=[1, 2])
        .rolling({"value_last": ["count"]}, "1 hour")
    )
    d = eng.plan.to_dict()
    assert d["code_version"] and d["entity"] == "user_id"
    rehydrated = FeaturePlan.from_dict(d)
    assert rehydrated == eng.plan
    # a rehydrated plan lowers to the same result (lineage is executable)
    out_a = eng.to_df()
    out_b = lower(probes, rehydrated, {"state": state})
    assert out_a.exceptAll(out_b).count() == 0


def test_plan_unknown_op_raises(spark, sf_dir):
    probes, _ = _probe_state(spark, sf_dir)
    bad = FeaturePlan("user_id", "ts").add("warp_drive")
    with pytest.raises(ValueError, match="unknown plan op"):
        lower(probes, bad)


@pytest.mark.parametrize("path", ["fused", "plain", "from_dict"])
def test_plan_unknown_param_raises(spark, sf_dir, path):
    """A misspelt or stale step param is an error, not a silent default:
    ``stict=True`` would otherwise run the inclusive as-of (a same-timestamp
    label leak)."""
    from engine.plan import _fused_split

    probes, state = _probe_state(spark, sf_dir)
    eng = FeatureEngine(probes, entity="user_id", ts="ts")
    if path == "fused":
        eng.asof(state, values=["value"], stict=True).sessionize("30 minutes")
        assert _fused_split(eng.plan) is not None
        key = "stict"
    elif path == "plain":
        eng.asof(state, values=["value"], strategy="merge").lag(["value"], leads=[1])
        assert _fused_split(eng.plan) is None
        key = "strategy"
    else:
        d = eng.asof(state, values=["value"]).plan.to_dict()
        d["steps"][0]["params"]["bucket"] = "6 hours"
        with pytest.raises(ValueError, match="'asof'.*'bucket'"):
            FeaturePlan.from_dict(d)
        return
    with pytest.raises(ValueError, match=f"'asof'.*'{key}'"):
        eng.to_df(hot_keys=[0, 1])
    with pytest.raises(ValueError, match=f"'asof'.*'{key}'"):
        eng.to_df()


# ------------------------------------------------------------- streaming ----

def test_session_window_agg_batch_matches_gap_sessionize(spark, sf_dir):
    """session_window (≥ gap ⇒ new session) vs gap-cumsum sessionize
    (> gap ⇒ new session) agree when no gap is exactly the boundary."""
    e = read_table(spark, sf_dir, "events").select("user_id", "ts")
    sw = session_window_agg(e, "user_id", "ts", "30 minutes").toPandas()
    gs = (
        sessionize(e, "user_id", "ts", gap="30 minutes")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    a = sw.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    b = gs.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["n_events"].values == b["n_events"].values).all()
    assert (a["session_start"].values == b["session_start"].values).all()


def test_streaming_windowed_agg_matches_batch(spark, sf_dir, tmp_path):
    e = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    # split input into 3 files so availableNow runs multiple micro-batches
    src = str(tmp_path / "stream_src")
    e.repartition(3).write.mode("overwrite").parquet(src)
    batch = windowed_agg(e, "user_id", "ts", {"value": ["count"]}, "1 hour").toPandas()

    stream = file_stream(spark, src, e.schema)
    agg = windowed_agg(stream, "user_id", "ts", {"value": ["count"]}, "1 hour",
                       watermark="2 hours")
    got = run_available_now(agg, "win_agg_test", output_mode="complete").toPandas()
    a = batch.sort_values(["user_id", "win_start"]).reset_index(drop=True)
    b = got.sort_values(["user_id", "win_start"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["value_count"].values == b["value_count"].values).all()


def test_stateful_ffill_stream_matches_batch(spark, sf_dir, tmp_path):
    from engine.window_ops import forward_fill
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampNTZType,
    )

    e = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")).alias("v"),
    )
    batch = forward_fill(e, "user_id", "ts", ["v"], out_suffix="_f").toPandas()

    # single file → one micro-batch: within-batch ffill must equal batch op
    src = str(tmp_path / "ffill_src")
    e.coalesce(1).write.mode("overwrite").parquet(src)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("v", DoubleType()),
    ])
    out_schema = StructType(schema.fields + [StructField("v_f", DoubleType())])
    stream = file_stream(spark, src, schema)
    filled = stateful_ffill(stream, "user_id", "ts", ["v"], out_schema)
    got = run_available_now(filled, "ffill_test").toPandas()

    a = batch.sort_values("event_id").reset_index(drop=True)
    b = got.sort_values("event_id").reset_index(drop=True)
    assert len(a) == len(b)
    pd.testing.assert_series_equal(
        a["v_f"], b["v_f"], check_names=False, check_exact=True
    )


def _sorted_pdf(df):
    pdf = df.toPandas()
    return pdf.sort_values(sorted(pdf.columns), kind="mergesort").reset_index(drop=True)


def test_hot_split_merges_before_non_entity_agg(spark, sf_dir):
    """A non-entity-keyed aggregate step under hot_keys lowering must see the
    MERGED frame — per-branch aggregation would emit two partial rows per
    group (round-1 advice, medium)."""
    probes, state = _probe_state(spark, sf_dir)

    def build(hot):
        return (
            FeatureEngine(probes, entity="user_id", ts="ts")
            .asof(state, values=["value", "etype"], suffix="_last")
            .lag(["value_last"], lags=[1])
            .agg_features({"value_last": ["count", "min", "max"]}, key="etype_last")
            .to_df(hot_keys=hot, bucket="6 hours")
        )

    plain = _sorted_pdf(build(None))
    split = _sorted_pdf(build([0, 1, 2]))
    pd.testing.assert_frame_equal(plain, split)


def test_hot_split_rolling_minmax_falls_back_to_frame(spark, sf_dir):
    """A rolling step with non-decomposable aggs (min/max) is valid under the
    default method='frame'; with hot_keys it must fall back to the plain
    frame lowering on the hot branch, not raise (round-1 advice, medium)."""
    probes, state = _probe_state(spark, sf_dir)

    def build(hot):
        return (
            FeatureEngine(probes, entity="user_id", ts="ts")
            .asof(state, values=["value"], suffix="_last")
            .rolling({"value_last": ["min", "max"]}, "1 hour")
            .to_df(hot_keys=hot, bucket="6 hours")
        )

    plain = _sorted_pdf(build(None))
    split = _sorted_pdf(build([0, 1, 2]))
    pd.testing.assert_frame_equal(plain, split)


def test_stateful_ffill_integer_batch_with_null_state(spark, tmp_path):
    """A long-typed column with no nulls in the first micro-batch used to
    crash the seeding (int Series cannot hold the None state) — round-1
    advice fix: the carry column is coerced to float64."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampNTZType,
    )

    src = str(tmp_path / "intffill_src")
    base = spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).withColumn("ts", F.timestamp_micros(F.col("v") * 1_000_000))
    b1 = base.select("k", "ts", "v")
    b2 = spark.createDataFrame([(1, 30, None), (2, 40, 7)], "k long, sec long, v long") \
        .withColumn("ts", F.timestamp_micros(F.col("sec") * 1_000_000)).select("k", "ts", "v")
    b1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f=1"))
    b2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f=2"))

    schema = StructType([
        StructField("k", LongType()), StructField("ts", TimestampNTZType()),
        StructField("v", LongType()),
    ])
    out_schema = StructType(schema.fields + [StructField("v_f", DoubleType())])
    stream = file_stream(spark, src + "/f=*", schema)
    got = run_available_now(
        stateful_ffill(stream, "k", "ts", ["v"], out_schema), "intffill_test"
    ).toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    # k=1's null in batch 2 is filled from batch 1's state (10.0)
    k1 = got[got.k == 1].sort_values("ts")["v_f"].tolist()
    assert k1 == [10.0, 10.0]
    k2 = got[got.k == 2].sort_values("ts")["v_f"].tolist()
    assert k2 == [20.0, 7.0]


def test_streaming_exact_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming C1: a replayed stream (every event twice, across several
    micro-batches) dedups back to the batch-distinct result, in both the
    watermarked (state-evicting) and all-time-state modes."""
    from engine.streaming import streaming_exact_dedup

    e = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    src = str(tmp_path / "dedup_src")
    # duplicate the whole input and spread over files -> replay arrives in
    # a different micro-batch than the original
    e.union(e).repartition(6).write.mode("overwrite").parquet(src)
    n_expect = e.count()

    stream = file_stream(spark, src, e.schema)
    # watermarked mode: the fixture's ts span is far below the delay, so no
    # state is evicted mid-run and the result is exactly batch-distinct
    got = run_available_now(
        streaming_exact_dedup(stream, ["event_id"], ts="ts", watermark="8760 hours"),
        "dedup_wm_test", output_mode="append",
    ).toPandas()
    assert len(got) == n_expect
    assert got.event_id.is_unique

    stream2 = file_stream(spark, src, e.schema)
    got2 = run_available_now(
        streaming_exact_dedup(stream2, ["event_id"]),
        "dedup_all_test", output_mode="append",
    ).toPandas()
    assert len(got2) == n_expect and got2.event_id.is_unique
    # batch mode reduces to DISTINCT-by-key
    assert streaming_exact_dedup(e.union(e), ["event_id"]).count() == n_expect


def test_streaming_content_dedup_matches_batch_exact_dedup(spark, sf_dir, tmp_path):
    """Content-hash streaming dedup keeps exactly one doc per distinct text
    — same keeper count as the batch C1 operator."""
    from engine.streaming import streaming_exact_dedup

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_distinct = d.select(F.md5("text")).distinct().count()
    src = str(tmp_path / "cdedup_src")
    d.repartition(4).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, d.schema).withColumn("content_key", F.md5("text"))
    got = run_available_now(
        streaming_exact_dedup(stream, ["content_key"]),
        "cdedup_test", output_mode="append",
    ).toPandas()
    assert len(got) == n_distinct
    assert got.content_key.is_unique


def test_streaming_sliding_agg_matches_batch(spark, sf_dir, tmp_path):
    """r4 §2.8: the SLIDING window path (window=2h slide=30m — each event in
    4 overlapping windows) must produce identical rows on readStream as in
    batch (where it is also oracle-checked hash-exact vs DuckDB)."""
    e = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "slide_src")
    e.repartition(3).write.mode("overwrite").parquet(src)
    batch = windowed_agg(
        e, "user_id", "ts", {"value": ["count"]}, "2 hours", slide="30 minutes"
    ).toPandas()

    stream = file_stream(spark, src, e.schema)
    agg = windowed_agg(stream, "user_id", "ts", {"value": ["count"]},
                       "2 hours", slide="30 minutes", watermark="4 hours")
    got = run_available_now(agg, "slide_agg_test", output_mode="complete").toPandas()
    a = batch.sort_values(["user_id", "win_start"]).reset_index(drop=True)
    b = got.sort_values(["user_id", "win_start"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["value_count"].values == b["value_count"].values).all()
    # sliding invariant: total (event, window) memberships = 4x event count
    assert int(batch["value_count"].sum()) == 4 * e.count()
