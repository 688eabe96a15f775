"""The engine's one hot/cold skew mechanism: ``engine.plan.lower(hot_keys=...)``
compiling to the fused chain. Equality with the plain lowering on the skewed
fixture (hot doc holds a large share of rows) plus forced-hot long-tail keys,
the ``hotwin_family`` driver query's route through it, and the
``engine.hotwin.hot_predicate`` membership predicate it is built on."""

import io
import logging
from contextlib import redirect_stdout

import numpy as np
import pytest

from pyspark.sql import functions as F

from engine.skew import detect_hot_keys


@pytest.fixture(scope="module")
def ev(seq_fixtures):
    return seq_fixtures["seq_events"]


@pytest.fixture(scope="module")
def hot_keys(ev):
    ks = detect_hot_keys(ev, "doc_id", threshold=50)
    assert ks, "fixture should contain at least one hot doc"
    # add a couple of cold keys to time-split sparse series too
    extra = [
        r["doc_id"]
        for r in ev.select("doc_id").distinct().orderBy("doc_id").limit(3).collect()
    ]
    return sorted(set(ks) | set(extra))


def _sorted(pdf, cols):
    return pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)


def test_plan_level_hot_lowering_matches_plain(seq_fixtures, hot_keys):
    """lower(plan, hot_keys=...) (pipeline-level hot/cold split) must agree
    with the plain lowering on the full as-of → lag → sessionize → rolling
    chain — the production job's skew path (jobs/featuregen.py)."""
    from engine.plan import FeatureEngine

    def build():
        return (
            FeatureEngine(seq_fixtures["probes"], entity="doc_id", ts="asof_ts")
            .asof(seq_fixtures["seq_events"], values=["fvalue", "fcat"], suffix="_last")
            .lag(["fvalue_last"], lags=[1, 2])
            .sessionize("1 hour")
            .rolling({"fvalue_last": ["count", "sum"]}, "1 day", method="prefix")
        )

    plain = build().to_df().toPandas()
    hot = build().to_df(hot_keys=hot_keys, bucket="2 days").toPandas()
    key = ["doc_id", "asof_ts"]
    a, b = _sorted(plain, key), _sorted(hot, key)
    assert list(a.columns) == list(b.columns)
    for c in [
        "fvalue_last", "fvalue_last_lag1", "fvalue_last_lag2",
        "fvalue_last_count_1day", "fvalue_last_sum_1day",
    ]:
        assert np.allclose(a[c].astype(float), b[c].astype(float), equal_nan=True), c
    assert (a["session_id"].astype("int64").values
            == b["session_id"].astype("int64").values).all()


def test_hot_predicate_compiles_to_isin_and_handles_nulls(spark):
    """Single-column hot keys must compile to In/InSet (not a key-deep OR
    chain — round-1 advice) and preserve eqNullSafe semantics for NULL keys."""
    from engine.hotwin import hot_predicate

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (3, "d")], "k long, v string"
    )
    # 10k keys: must analyze instantly (InSet), not build a 10k-deep OR tree
    big = hot_predicate("k", list(range(10_000)))
    assert df.where(big).count() == 3
    assert str(big).startswith("Column<'in(k, ")  # single In expr, no OR tree

    with_null = hot_predicate("k", [1, None])
    got = {r["v"] for r in df.where(with_null).collect()}
    assert got == {"a", "c"}

    cold = df.where(~F.coalesce(hot_predicate("k", [1, None]), F.lit(False)))
    assert {r["v"] for r in cold.collect()} == {"b", "d"}

    # composite keys keep the conjunction path
    comp = hot_predicate(["k", "v"], [(1, "a"), (3, "d")])
    assert df.where(comp).count() == 2

    # an empty hot list (detect_hot_keys routed nothing) is lit(False) for
    # single and composite keys alike, so every row stays on the cold path
    for ent in ("k", ["k", "v"]):
        assert df.where(hot_predicate(ent, [])).count() == 0
    from engine.skew import hot_broadcast_join

    dim = spark.createDataFrame([(1, "a", "x"), (3, "d", "y")], "k long, v string, attr string")
    routed = hot_broadcast_join(df, dim, ["k", "v"], hot_keys=[], how="left")
    assert sorted(r["attr"] or "" for r in routed.collect()) == ["", "", "x", "y"]


def test_hotwin_family_lowers_through_fused_chain(spark, sf_dir, caplog):
    """The ``hotwin_family`` driver query is the oracle-checked coverage of
    hot-key time splitting: its plan must keep compiling to the fused chain
    (the ``__fx_b`` bucket column in the executed plan, no "hot_keys are
    ignored" fallback warning) and keep matching its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as E
    from scripts.check_oracle import compare

    with caplog.at_level(logging.WARNING, logger="engine.plan"):
        df = E.queries()["hotwin_family"](spark, sf_dir)
    assert not any("hot_keys are ignored" in r.getMessage() for r in caplog.records)
    got = df.toPandas()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "__fx_b" in buf.getvalue()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    want = con.sql(E.oracle_sql()["hotwin_family"]).df()
    con.close()
    assert not compare("hotwin_family", got, want)
