"""Skew-path correctness (SURVEY.md §5.6) and determinism (§5.7)."""

import pandas as pd
from pyspark.sql import functions as F

from engine.datagen import gen_seq_events, gen_sequences
from engine.skew import salted_join, two_level_agg
from tests.oracle import assert_frames_allclose


def test_two_level_agg_equals_plain(spark, seq_fixtures):
    ev = seq_fixtures["seq_events"]
    got = two_level_agg(
        ev, "fcat", {"fvalue": ["count", "sum", "avg", "min", "max", "stddev"]},
        buckets=8,
    ).toPandas()
    want = ev.groupBy("fcat").agg(
        F.count("fvalue").alias("fvalue_count"),
        F.sum("fvalue").alias("fvalue_sum"),
        F.avg("fvalue").alias("fvalue_avg"),
        F.min("fvalue").alias("fvalue_min"),
        F.max("fvalue").alias("fvalue_max"),
        F.stddev("fvalue").alias("fvalue_stddev"),
    ).toPandas()
    assert_frames_allclose(got, want, rtol=1e-9)


def test_salted_join_equals_plain(spark, seq_fixtures):
    ev = seq_fixtures["seq_events"]
    dim = ev.groupBy("fcat").agg(F.count(F.lit(1)).alias("cat_n"))
    got = salted_join(ev.select("doc_id", "ts", "fcat"), dim, on="fcat", buckets=8).toPandas()
    want = ev.select("doc_id", "ts", "fcat").join(dim, "fcat").toPandas()
    assert_frames_allclose(got, want)


def test_hot_entity_skew_correct(spark):
    """50%-hot-entity fixture: salted paths still exact (FIXTURES.md B5)."""
    ev = gen_seq_events(spark, n_docs=40, seed=11, hot_frac_pct=50, partitions=4)
    got = two_level_agg(ev, "doc_id", {"fvalue": ["count", "sum"]}, buckets=16).toPandas()
    want = ev.groupBy("doc_id").agg(
        F.count("fvalue").alias("fvalue_count"), F.sum("fvalue").alias("fvalue_sum")
    ).toPandas()
    assert_frames_allclose(got, want)
    hot = ev.where(F.col("doc_id") == "doc000000000000").count()
    assert hot / ev.count() > 0.4


def test_datagen_deterministic_across_parallelism(spark):
    a = gen_sequences(spark, 500, seed=3, partitions=2).toPandas()
    b = gen_sequences(spark, 500, seed=3, partitions=16).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert (a["doc_id"] == b["doc_id"]).all()
    assert (a["n_tok"] == b["n_tok"]).all()
    assert all((x == y).all() for x, y in zip(a["tokens"], b["tokens"]))
    assert (a["source"] == b["source"]).all()


def test_pipeline_deterministic(spark, seq_fixtures):
    from engine.asof import asof_join

    def run():
        return (
            asof_join(
                seq_fixtures["probes"], seq_fixtures["seq_events"],
                on="doc_id", probe_ts="asof_ts", state_ts="ts",
                values=["fvalue", "fcat"],
            )
            .toPandas()
        )

    assert_frames_allclose(run(), run())


def test_dim_grouped_agg_equals_join_then_group(spark):
    """dim_grouped_agg (pre-agg at join-key grain → dim join → merge) must
    equal the naive join-then-groupBy exactly, including: a hot fact key,
    NULL fact values (count semantics), and fact keys missing from the dim
    (grouped under the NULL attribute with how='left')."""
    from engine.skew import dim_grouped_agg

    ev = gen_seq_events(spark, n_docs=40, seed=11, hot_frac_pct=50, partitions=4)
    # dim misses half the doc_ids → exercises the left-join NULL group
    dim = gen_sequences(spark, 20, seed=11).select("doc_id", "source")
    got = dim_grouped_agg(
        ev, dim, on="doc_id", group_keys="source",
        agg_specs={"fvalue": ["count", "sum", "avg", "min", "max", "stddev"]},
    ).toPandas()
    want = (
        ev.join(dim, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("fvalue").alias("fvalue_count"),
            F.sum("fvalue").alias("fvalue_sum"),
            F.avg("fvalue").alias("fvalue_avg"),
            F.min("fvalue").alias("fvalue_min"),
            F.max("fvalue").alias("fvalue_max"),
            F.stddev("fvalue").alias("fvalue_stddev"),
        )
        .toPandas()
    )
    assert_frames_allclose(got, want, rtol=1e-9)


def test_straggler_hot_keys_cost_condition(spark):
    """Routing is cost-based: a key below the spill floor / makespan bar is
    NOT routed even if it dominates the (small) input; scaled thresholds
    route it once the absolute floor is cleared."""
    from engine.skew import straggler_hot_keys

    ev = gen_seq_events(spark, n_docs=40, seed=11, hot_frac_pct=50, partitions=4)
    n = ev.count()
    # small input: hot key holds ~50% of rows but can't straggle anything
    assert straggler_hot_keys(ev.select("doc_id"), "doc_id", n, cores=4) == []
    # same distribution, floor lowered to simulate scale: now routed
    routed = straggler_hot_keys(
        ev.select("doc_id"), "doc_id", n, cores=4, spill_floor=50
    )
    assert routed == ["doc000000000000"]


def test_straggler_hot_keys_no_job_below_the_bar(spark):
    """When the whole input is at or below the straggler bar no key can clear
    it, so the detection returns [] without launching a Spark job."""
    from engine.skew import straggler_hot_keys

    ev = gen_seq_events(spark, n_docs=40, seed=11, hot_frac_pct=50, partitions=4)
    n = ev.count()
    sc = spark.sparkContext

    def jobs_in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    hot, jobs = jobs_in_group(
        "straggler-below-bar",
        lambda: straggler_hot_keys(ev.select("doc_id"), "doc_id", n, cores=4),
    )
    assert hot == [] and list(jobs) == []
    # control: above the bar the same group tracking sees the detection job
    hot, jobs = jobs_in_group(
        "straggler-above-bar",
        lambda: straggler_hot_keys(ev.select("doc_id"), "doc_id", n, cores=4,
                                   spill_floor=50),
    )
    assert hot == ["doc000000000000"] and list(jobs)


def test_hot_broadcast_join_equals_plain_join(spark):
    """hot_broadcast_join must equal the plain join exactly — hot keys are a
    routing choice, never a semantic one (including unmatched left rows)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from engine.skew import hot_broadcast_join

    fact = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ([0] * 5 + [i % 7])],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(5)], "k long, attr string"  # keys 5,6 unmatched
    )
    plain = fact.join(dim, "k", "left").toPandas()
    routed = hot_broadcast_join(fact, dim, "k", hot_keys=[0], how="left").toPandas()
    key = ["k", "v", "attr"]
    a = plain.sort_values(key, na_position="last").reset_index(drop=True)
    b = routed.sort_values(key, na_position="last").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key], b[key])
    # the hot branch really broadcasts (plan shows BroadcastHashJoin)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        hot_broadcast_join(fact, dim, "k", hot_keys=[0]).explain()
    assert "BroadcastHashJoin" in buf.getvalue()
