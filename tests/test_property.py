"""Property-based tests (hypothesis): the as-of join matches pd.merge_asof
on arbitrary generated histories, and the O(n) prefix rolling equals the
sliding-frame rolling exactly on decimal inputs. Few examples, tiny frames —
each example runs a real Spark job."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from engine.asof import asof_join
from engine.window_ops import rolling_aggregates

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (entity, ts) unique on the state side: the winner among exact-duplicate
# (entity, ts) state rows is documented as deterministic-but-engine-specific
# (payload order), while merge_asof picks input order — so duplicates are
# excluded from the cross-engine property, as in the oracle queries.
_state_strat = st.dictionaries(
    st.tuples(st.integers(0, 2), st.integers(0, 50)),
    st.one_of(st.none(), st.integers(-100, 100)),
    min_size=1, max_size=25,
)
_probe_strat = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25
)


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@given(state=_state_strat, probes=_probe_strat, strict=st.booleans())
@settings(**_SETTINGS)
def test_asof_union_matches_merge_asof(sess, state, probes, strict):
    spark = sess
    st_rows = [(e, t, None if v is None else float(v)) for (e, t), v in state.items()]
    pr_rows = [(i, e, t) for i, (e, t) in enumerate(probes)]
    sdf = spark.createDataFrame(st_rows, "e long, tsec long, v double").withColumn(
        "ts", F.timestamp_micros(F.col("tsec") * 1_000_000)
    ).drop("tsec")
    pdf_p = spark.createDataFrame(pr_rows, "pid long, e long, tsec long").withColumn(
        "ts", F.timestamp_micros(F.col("tsec") * 1_000_000)
    ).drop("tsec")

    got = (
        asof_join(pdf_p, sdf, on="e", probe_ts="ts", state_ts="ts",
                  values=["v"], suffix="_last", strict=strict)
        .toPandas().sort_values("pid").reset_index(drop=True)
    )

    sp = pd.DataFrame(st_rows, columns=["e", "t", "v"]).sort_values(["t", "e"])
    pp = pd.DataFrame(pr_rows, columns=["pid", "e", "t"]).sort_values(["t", "pid"])
    want = pd.merge_asof(
        pp, sp, on="t", by="e", direction="backward",
        allow_exact_matches=not strict,
    ).sort_values("pid").reset_index(drop=True)

    assert got["v_last"].equals(want["v"].rename("v_last")) or (
        got["v_last"].fillna("∅").tolist() == want["v"].fillna("∅").tolist()
    )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(-50, 50)),
        min_size=1, max_size=30, unique_by=lambda r: (r[0], r[1]),
    ),
    win=st.sampled_from([1, 3, 10]),
)
@settings(**_SETTINGS)
def test_rolling_prefix_equals_frame_exactly(sess, rows, win):
    """On decimal inputs the prefix subtraction is exact, so the O(n) path
    must equal the SQL sliding frame bit-for-bit — for every generated
    history and window width."""
    spark = sess
    df = spark.createDataFrame(rows, "e long, tsec long, raw long").select(
        "e", F.timestamp_micros(F.col("tsec") * 1_000_000).alias("ts"),
        F.col("raw").cast("decimal(18,2)").alias("v"),
    )
    aggs = {"v": ["count", "sum"]}
    a = rolling_aggregates(df, "e", "ts", aggs, window=win, method="frame")
    b = rolling_aggregates(df, "e", "ts", aggs, window=win, method="prefix")
    key = ["e", "ts"]
    pa = a.toPandas().sort_values(key).reset_index(drop=True)
    pb = b.toPandas().sort_values(key).reset_index(drop=True)
    suf = f"{win}s"
    assert pa[f"v_count_{suf}"].tolist() == pb[f"v_count_{suf}"].tolist()
    assert pa[f"v_sum_{suf}"].fillna("∅").tolist() == pb[f"v_sum_{suf}"].fillna("∅").tolist()


_pack_strat = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 40)),  # (shard, n_tok)
    min_size=1, max_size=30,
)


@given(docs=_pack_strat, seq_len=st.integers(1, 17))
@settings(**_SETTINGS)
def test_pack_sequences_slice_algebra_property(sess, docs, seq_len):
    """C20 on arbitrary token-length distributions: slices reassemble each
    doc exactly, every non-final pack is exactly full, pack offsets tile
    [0, seq_len) gap-free, zero-length docs are skipped."""
    from engine.corpus.traindata import pack_sequences

    spark = sess
    rows = [(i, f"s{s}", n) for i, (s, n) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = pack_sequences(df, seq_len, "n_tok", shard_col="source").toPandas()
    ntok = {i: n for i, (_, n) in enumerate(docs) if n > 0}
    assert set(out.doc_id) == set(ntok)
    for doc_id, g in out.sort_values("pack_id").groupby("doc_id"):
        assert g.tok_len.sum() == ntok[doc_id]
        assert g.tok_start.iloc[0] == 0
        assert list(g.tok_start)[1:] == list((g.tok_start + g.tok_len))[:-1]
    for (src, pid), g in out.groupby(["source", "pack_id"]):
        g = g.sort_values("pack_off")
        assert g.pack_off.iloc[0] == 0
        assert list(g.pack_off)[1:] == list((g.pack_off + g.tok_len))[:-1]
        assert (g.pack_off + g.tok_len).max() <= seq_len
        if pid < out[out.source == src].pack_id.max():
            assert g.tok_len.sum() == seq_len


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    r1=st.floats(0.0, 1.0, allow_nan=False),
    r2=st.floats(0.0, 1.0, allow_nan=False),
)
@settings(**_SETTINGS)
def test_hash_sample_rate_nesting_property(sess, ids, r1, r2):
    """C16 on arbitrary ids/rates: thresholds over one fixed coin nest —
    sample(min) ⊆ sample(max) — and membership matches the python coin."""
    import hashlib

    from engine.corpus.sampling import hash_sample, rate_threshold

    spark = sess
    lo, hi = sorted([r1, r2])
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    s_lo = {r.doc_id for r in hash_sample(df, lo).collect()}
    s_hi = {r.doc_id for r in hash_sample(df, hi).collect()}
    assert s_lo <= s_hi
    coin = lambda i: int(hashlib.md5(f"afg|{i}".encode()).hexdigest()[:4], 16)
    assert s_hi == {i for i in ids if coin(i) < rate_threshold(hi)}


# Edge inputs for the FeaturePlan lowering: probe and state (entity, ts)
# each unique (lag order among tied probes, and the winner among tied state
# rows, are engine-chosen), but a probe may tie a state row on ts.
_edge_state = st.dictionaries(
    st.tuples(st.integers(0, 2), st.integers(0, 30)),
    st.one_of(st.none(), st.integers(-100, 100)),
    max_size=20,
)
_edge_probes = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 30)),
    max_size=20, unique=True,
)


@given(
    state=_edge_state, probes=_edge_probes, strict=st.booleans(),
    one_entity=st.booleans(),
)
@settings(**_SETTINGS)
def test_feature_plan_lowering_equals_composition_on_edge_inputs(
    sess, state, probes, strict, one_entity
):
    """``FeatureEngine(...).to_df()`` with no hot keys (the fused one-sort
    chain) equals the composition of the public operators — as-of, ffill,
    lags, sessions and avg/stddev rolling — on histories with null and
    all-null values, probe/state ts ties under both tie policies, a
    one-entity corpus and an empty probe side."""
    from engine.plan import FeatureEngine
    from engine.window_ops import forward_fill, lag_features, sessionize

    spark = sess
    if one_entity:
        state = {(0, t): v for (_, t), v in state.items()}
        probes = sorted({(0, t) for _, t in probes})
    ts = F.timestamp_micros(F.col("tsec") * 1_000_000).alias("ts")
    sdf = spark.createDataFrame(
        [(e, t, None if v is None else float(v)) for (e, t), v in state.items()],
        "e long, tsec long, v double",
    ).select("e", ts, "v", F.lit(None).cast("double").alias("z"))
    pdf = spark.createDataFrame(
        [(i, e, t) for i, (e, t) in enumerate(probes)], "pid long, e long, tsec long"
    ).select("pid", "e", ts)
    aggs = {"v_last": ["count", "sum", "avg", "stddev"], "z_last": ["count", "avg"]}

    got = (
        FeatureEngine(pdf, entity="e", ts="ts")
        .asof(sdf, values=["v", "z"], suffix="_last", strict=strict)
        .ffill(["v_last", "z_last"])
        .lag(["v_last"], lags=[1, 2])
        .sessionize(3)
        .rolling(aggs, 5, method="prefix")
        .to_df()
    )
    ref = asof_join(pdf, sdf, on="e", probe_ts="ts", state_ts="ts",
                    values=["v", "z"], suffix="_last", strict=strict)
    ref = forward_fill(ref, "e", "ts", ["v_last", "z_last"], out_suffix="_f")
    ref = lag_features(ref, "e", "ts", ["v_last"], lags=[1, 2])
    ref = sessionize(ref, "e", "ts", gap=3)
    ref = rolling_aggregates(ref, "e", "ts", aggs, window=5, method="frame")

    assert sorted(got.columns) == sorted(ref.columns)
    a = ref.toPandas().sort_values("pid").reset_index(drop=True)
    b = got.select(*ref.columns).toPandas().sort_values("pid").reset_index(drop=True)
    assert len(a) == len(b) == len(probes)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=1e-9, atol=1e-6)
