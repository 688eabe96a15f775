"""Workload-identity self-test: each workload still takes the side of the
routing choice it exists for, so a drifted generator cannot silently turn
one workload into another.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import workloads as W  # noqa: E402
from inputs import ROUTED, bucket_ids, ensure_inputs  # noqa: E402

SEED = 1


@pytest.fixture(scope="module")
def spark():
    run.contain_writes()
    s = run.build_session()
    yield s
    run.stop_jvm(s)


@pytest.mark.parametrize("workload", ["flagship", "flagship-skewed"])
def test_flagship_routing(spark, workload):
    root, _, _ = ensure_inputs(run.WORK, workload, SEED)
    probes = spark.read.parquet(os.path.join(root, "probes"))
    ev = spark.read.parquet(os.path.join(root, "seq_events"))
    _, hot = W.detect_hot_docs(spark, probes, ev)
    assert len(hot) == ROUTED[workload]


def test_featuregen_routes_nothing_and_kill_leaves_half(spark):
    from pyspark.sql import functions as F

    from engine.io import read_table
    from engine.skew import straggler_hot_keys

    root, _, _ = ensure_inputs(run.WORK, "featuregen", SEED)
    e = read_table(spark, root, "events")
    n = e.count()
    assert straggler_hot_keys(e.select("user_id"), "user_id", n,
                              cores=spark.sparkContext.defaultParallelism) == []
    assert e.where(F.col("event_type") == "click").count() > 0
    out = os.path.join(run.WORK, "selftest", "killed")
    assert run.kill_leg(root, out) == 16


def test_bucket_files_match_spark_hash(spark):
    from pyspark.sql import functions as F

    ids = [f"doc{i:012d}" for i in range(0, 5000, 7)]
    want = [r[0] for r in spark.createDataFrame([(d,) for d in ids], "d string")
            .select(F.pmod(F.hash("d"), F.lit(16))).collect()]
    assert bucket_ids(np.array(ids), 16).tolist() == want
