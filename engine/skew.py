"""Explicit skew handling (BASELINE.json:14 "skew handled explicitly").

AQE's skew-join split only covers sort-merge / shuffled-hash JOINS — it does
NOT help groupBy aggregations or window functions, where a hot ``doc_id`` /
``source`` key still lands on one task. So the engine provides:

* ``salted_join``   — A3: replicate the small side K ways, salt the fact side;
  no single task receives a whole hot key.
* ``two_level_agg`` — G2: partial aggregate on (key, salt), then merge on key.
  sum/count/min/max compose exactly; avg/stddev are derived from
  (sum, sum of squares, count) so the two-level result is bit-for-bit the
  algebraic formula, allclose to single-level.

Salt comes from a deterministic hash of a per-row unique column when one is
available (resume-stable), else from ``rand(seed)`` — never from
``monotonically_increasing_id`` arithmetic that AQE renumbering could change
(SURVEY.md §7 risk 5).
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__afg_salt"

_log = logging.getLogger(__name__)


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def with_salt(
    df: DataFrame,
    buckets: int,
    unique_col: str | None = None,
    salt_col: str = _SALT,
    seed: int = 42,
) -> DataFrame:
    """Add a salt column in [0, buckets)."""
    if unique_col is not None:
        salt = F.pmod(F.xxhash64(F.col(unique_col), F.lit(seed)), F.lit(buckets))
    else:
        salt = (F.rand(seed) * buckets).cast("int")
    return df.withColumn(salt_col, salt.cast("int"))


def detect_hot_keys(
    df: DataFrame,
    keys: str | Sequence[str],
    threshold: int,
    max_keys: int = 10_000,
    sample_fraction: float | None = None,
) -> list:
    """Keys with ≥ ``threshold`` rows — ONE partially-aggregated count job
    (the shuffle carries ~one row per key, not per fact row). Returns scalar
    values for a single key column, Rows for composite keys, hottest first
    (ties by key). At most ``max_keys`` are returned (by definition at most
    |df| / threshold keys qualify): the cap keeps the hottest keys and logs a
    warning when it drops any.

    Used to route hot entities to the time-bucketed fused chain of
    ``engine.plan.lower(hot_keys=...)`` while the long tail keeps the plain
    single-window plan. An empty result routes nothing
    (``engine.hotwin.hot_predicate`` of ``[]`` is ``lit(False)``).

    ``sample_fraction``: detect on a Bernoulli sample (threshold scaled
    accordingly) — hot keys are by definition orders of magnitude above the
    threshold, so sampling error cannot flip them; routing a borderline key
    either way is a performance choice, never a correctness one.
    """
    keylist = _as_list(keys)
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=7)
        threshold = max(1, int(threshold * sample_fraction))
    rows = (
        df.groupBy(*keylist)
        .agg(F.count(F.lit(1)).alias("__afg_n"))
        .where(F.col("__afg_n") >= threshold)
        .orderBy(F.col("__afg_n").desc(), *keylist)
        .select(*keylist)
        .limit(max_keys + 1)
        .collect()
    )
    if len(rows) > max_keys:
        rows = rows[:max_keys]
        _log.warning(
            "detect_hot_keys: more than max_keys=%d keys have >= %d rows; "
            "kept the %d hottest", max_keys, threshold, max_keys,
        )
    if len(keylist) == 1:
        return [r[keylist[0]] for r in rows]
    return rows


def straggler_hot_keys(
    df: DataFrame,
    keys: str | Sequence[str],
    total_rows: int,
    cores: int,
    spill_floor: int = 1_000_000,
    max_keys: int = 10_000,
    sample_fraction: float | None = None,
) -> list:
    """Hot keys that would actually STRAGGLE a per-entity window plan — the
    cost-based routing condition for the fused chain's skew split.

    A key only hurts the makespan when its single serial task outlasts the
    balanced remainder of the job, so bucketing it must clear BOTH bars
    (``cnt > max(spill_floor, total_rows / cores)`` — see
    :func:`straggler_threshold`):

    * ``cnt > spill_floor`` — the absolute cliff: a single-task sort below
      ~1M rows stays in the in-memory sorter, and at that size the routed
      plan's fixed stages (role explode, carry scaffolding) dominate
      anything routing could save. Measured: a 250k-row hot key at 500k
      docs / 16 cores made the routed plan 3.0× SLOWER than the plain
      fused chain it was protecting (22.91 s vs 7.63 s; the dated
      straggler-sensitivity record is in BENCH/HISTORY.md).
    * ``cnt > total_rows / cores`` — the makespan bar: a serial task only
      extends the makespan once it exceeds a full core's balanced share of
      the job. This bar was recalibrated by the 2026-08-19 sensitivity
      experiment: the previous ``total / (8 · cores)`` slack routed a
      4M-row key at 8M docs / 16 cores (80 % of the 5M-row per-core share)
      and measured 19 % SLOWER than not routing (55.67 s vs 46.79 s) — a
      below-share task cannot straggle, and the 8× slack was encoding the
      old pre-degeneration fixed costs, not physics. On a 1000-core
      cluster the same bar correctly ignores keys that are rounding errors
      against the aggregate work and still catches the boilerplate key
      holding multiples of a core's share.

    Returns the same shape as ``detect_hot_keys``. An empty list is the
    correct result for "no key can straggle here" — the plan then lowers
    plainly to its one-exchange, one-sort chain.

    ``total_rows`` must be the row count of ``df``: when it is at or below
    the bar, no key can clear it, and the empty list is returned without
    launching the detection job.
    """
    thr = straggler_threshold(total_rows, cores, spill_floor)
    if total_rows <= thr:
        return []
    return detect_hot_keys(
        df, keys, thr + 1, max_keys=max_keys, sample_fraction=sample_fraction
    )


def straggler_threshold(
    total_rows: int, cores: int, spill_floor: int = 1_000_000
) -> int:
    """The row count above which a single key's serial task straggles a
    per-entity window plan: ``max(spill_floor, total_rows // cores)``.
    Shared by :func:`straggler_hot_keys` and the sensitivity experiment
    (scripts/straggler_sensitivity.py) so the swept rule IS the shipped
    rule."""
    return max(int(spill_floor), total_rows // max(1, int(cores)))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    buckets: int = 16,
    how: str = "inner",
    fact_unique_col: str | None = None,
) -> DataFrame:
    """Skew-proof equi-join: salt the fact side, replicate the dim side K ways.

    The dim side is exploded by ``sequence(0, K-1)`` (A8 replication) so every
    (key, salt) bucket finds its dim row; each hot key's rows spread over K
    tasks instead of one.
    """
    keys = _as_list(on)
    fact_s = with_salt(fact, buckets, unique_col=fact_unique_col)
    dim_r = dim.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = fact_s.join(dim_r, on=keys + [_SALT], how=how)
    return out.drop(_SALT)


def hot_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    hot_keys: list,
    how: str = "left",
) -> DataFrame:
    """Skew-proof dimension join when the hot KEYS are known (e.g. from
    ``detect_hot_keys``): the hot keys' dim rows — at most |hot_keys| rows,
    broadcastable by definition — join map-side, so a hot key's fact rows
    stay spread across all their partitions instead of converging on the
    one reducer that owns the key. The long tail keeps the engine's default
    join, preserving bucket co-location when ``dim`` is a bucketed table.

    This beats full ``salted_join`` for fat dims: salting re-keys the join
    on (key, salt), which would force a full shuffle of the dim side and
    forfeit bucket locality; here the cold join's keying is untouched.

    The fact side is referenced twice (hot + cold branch) — persist it
    upstream (the flagship does) or accept double evaluation.
    """
    from engine.hotwin import hot_predicate

    keys = _as_list(on)
    pred = hot_predicate(keys, hot_keys)
    cold = fact.where(~F.coalesce(pred, F.lit(False))).join(dim, keys, how)
    hot = fact.where(pred).join(F.broadcast(dim.where(pred)), keys, how)
    return cold.unionByName(hot)


def _decompose_aggs(
    agg_specs: dict[str, Sequence[str]],
) -> tuple[list, list]:
    """(partials, finals) for a two-phase decomposable aggregation.

    sum/count/min/max compose exactly; avg/stddev are derived from
    (sum, sum of squares, count) so the merged result is bit-for-bit the
    algebraic formula. Shared by ``two_level_agg`` (partial key = (key, salt))
    and ``dim_grouped_agg`` (partial key = the join key): the merge step is
    identical either way.
    """
    partials, finals = [], []
    for c, fns in agg_specs.items():
        need = set(fns)
        if need & {"sum", "avg", "stddev"}:
            partials.append(F.sum(c).alias(f"__s_{c}"))
        if need & {"count", "avg", "stddev"}:
            partials.append(F.count(c).alias(f"__n_{c}"))
        if "stddev" in need:
            partials.append(F.sum(F.col(c) * F.col(c)).alias(f"__q_{c}"))
        if "min" in need:
            partials.append(F.min(c).alias(f"__min_{c}"))
            finals.append(F.min(f"__min_{c}").alias(f"{c}_min"))
        if "max" in need:
            partials.append(F.max(c).alias(f"__max_{c}"))
            finals.append(F.max(f"__max_{c}").alias(f"{c}_max"))
        if "sum" in need:
            finals.append(F.sum(f"__s_{c}").alias(f"{c}_sum"))
        if "count" in need:
            finals.append(F.sum(f"__n_{c}").cast("long").alias(f"{c}_count"))
        if "avg" in need:
            finals.append(
                (F.sum(f"__s_{c}") / F.sum(f"__n_{c}")).alias(f"{c}_avg")
            )
        if "stddev" in need:
            n = F.sum(f"__n_{c}")
            s = F.sum(f"__s_{c}")
            q = F.sum(f"__q_{c}")
            # sample stddev, matching F.stddev / SQL STDDEV
            var = (q - s * s / n) / (n - F.lit(1))
            finals.append(
                F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
                .otherwise(F.lit(None))
                .alias(f"{c}_stddev")
            )
    return partials, finals


def two_level_agg(
    df: DataFrame,
    keys: str | Sequence[str],
    agg_specs: dict[str, Sequence[str]],
    buckets: int = 16,
    unique_col: str | None = None,
) -> DataFrame:
    """Skew-proof groupBy: partial agg on (key, salt) → final merge on key.

    ``agg_specs`` maps column → aggregates among {count,sum,avg,min,max,stddev}.
    Output column names: ``{col}_{fn}`` (count over a column counts non-nulls,
    matching SQL COUNT(col)).
    """
    keylist = _as_list(keys)
    salted = with_salt(df, buckets, unique_col=unique_col)
    partials, finals = _decompose_aggs(agg_specs)
    partial = salted.groupBy(*keylist, _SALT).agg(*partials)
    return partial.groupBy(*keylist).agg(*finals)


def dim_grouped_agg(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    group_keys: str | Sequence[str],
    agg_specs: dict[str, Sequence[str]],
    how: str = "left",
) -> DataFrame:
    """Group fact rows by an attribute that lives on a DIMENSION table —
    ``SELECT d.attr, agg(f.x) FROM fact f JOIN dim d USING (k) GROUP BY
    d.attr`` — without ever shuffling the fact rows through the join.

    The naive plan shuffles every fact row to the join, then shuffles the
    joined rows again for the group-by, and a hot join key piles its rows
    onto one reducer twice. Here the fact side is pre-aggregated at the JOIN
    key's grain first: the partial group-by's map-side combine collapses each
    key — including an arbitrarily hot one — to one row per input partition,
    so the shuffle carries ~|keys| rows, the join touches ≤ |dim| rows per
    side, and the final merge on the dim attribute is tiny. No salting is
    needed anywhere: post-aggregation a hot key IS one row. (With a bucketed
    ``dim``, the join additionally co-locates on the dim's layout.)

    Same ``agg_specs`` / output-name contract as ``two_level_agg``
    ({col}_{fn}); inner/left ``how`` controls whether fact keys missing from
    the dim are kept (grouped under the dim attribute's NULL).
    """
    keylist = _as_list(on)
    groups = _as_list(group_keys)
    partials, finals = _decompose_aggs(agg_specs)
    per_key = fact.groupBy(*keylist).agg(*partials)
    return per_key.join(dim, on=keylist, how=how).groupBy(*groups).agg(*finals)
