"""Point-in-time (as-of) join — the engine's core operator.

Requirement: BASELINE.json:6 — "sorted-partition as-of merge (range-partition by
entity hash, secondary sort by event timestamp, merge-join with last-known-value
semantics)" with zero temporal leakage (BASELINE.json:14). SURVEY.md §2.3 A1/A2.

Three physical strategies, identical semantics (tests assert equality):

* ``strategy="union"`` (default, pure JVM): tag the two sides, ``unionByName``,
  one window ``last(payload, ignorenulls).over(partitionBy(entity).orderBy(ts,
  tie))``, keep probe rows. ONE shuffle, whole-stage-codegen friendly, no
  Python worker — the fast path at 10^12 rows.

* ``strategy="merge"`` (the spec-named sorted-partition merge): hash-partition
  both sides by entity (cogroup), secondary-sort by event time inside each
  group, ``pd.merge_asof`` per group in an Arrow-batched Python stage. Kept as
  the named-by-spec physical plan and as an independent implementation for the
  equivalence test; also the extension point for merge kernels pandas has but
  SQL windows don't.

* ``strategy="bucketed"`` (skew-proof, pure JVM): the explicit-salting answer
  for HOT entities (BASELINE.json:6 "explicit salting for skewed doc_id
  keys"). Window functions get no help from AQE skew handling — a key holding
  20% of rows becomes one serial task under the other strategies (Amdahl
  ceiling). Here the window partitions by ``(entity, time_bucket)`` so a hot
  entity's timeline splits across buckets; probes whose bucket holds no
  earlier state take a carry-in: the per-(entity, bucket) last state payload,
  forward-filled across buckets on a table that is |entities × active
  buckets| — tiny relative to the fact table WHEN keys are hot. Identical
  semantics (equality asserted in tests), unbounded parallelism in the time
  dimension. Overhead note: when applied to millions of COLD keys the carry
  table degenerates to fact-table cardinality — so only hot keys take it: the
  fused chain (``engine.fused``) folds the same time split into its bucket id
  for the keys ``engine.skew.straggler_hot_keys`` routes, and the hot path of
  ``rolling_aggregates(method="prefix")`` resolves its cutoffs through it.

Last-known-value semantics match ``pd.merge_asof(direction='backward')``: the
probe receives the values of the most recent state ROW (which may itself hold
nulls) — not the most recent non-null per column (that is ``forward_fill``).
``strict=True`` excludes state rows at exactly the probe timestamp
(``allow_exact_matches=False``), the label-safe tie policy.

Temporal-leakage proof sketch: a probe row's window frame is
``rowsBetween(unboundedPreceding, 0)`` over ordering ``(ts, tie)`` — no state
row with ``ts > probe.ts`` (or ``>=`` when strict) can enter the frame, so no
feature reads data past its as-of timestamp. The property test in
tests/test_leakage.py verifies this by mutating/deleting future rows.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from engine.tstools import epoch_micros

_TAG = "__afg_is_probe"
_PAYLOAD = "__afg_payload"
_TS_KEY = "__afg_ts_key"


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def asof_join(
    probes: DataFrame,
    state: DataFrame,
    on: str | Sequence[str],
    probe_ts: str = "ts",
    state_ts: str | None = None,
    values: Iterable[str] | None = None,
    strict: bool = False,
    strategy: str = "union",
    suffix: str = "",
    include_state_ts: str | None = None,
    num_partitions: int | None = None,
    bucket: str | int | float = "1 day",
    persist_intermediate: bool = False,
) -> DataFrame:
    """Backward as-of join: each probe row gains the latest state values.

    Args:
        probes: left side — (entity, probe_ts, any payload columns).
        state: right side — (entity, state_ts, value columns).
        on: entity key column(s), present on both sides.
        probe_ts / state_ts: event-time columns (state_ts defaults to probe_ts).
        values: state columns to fetch (default: all but key + ts).
        strict: True → only state with ts strictly < probe ts (no exact ties).
        strategy: "union" (JVM window), "merge" (cogrouped pd.merge_asof)
            or "bucketed" (time-split window for hot keys).
        suffix: appended to fetched value column names (collision control).
        include_state_ts: if set, also emit the matched state timestamp under
            this name (null when no match).
        num_partitions: explicit shuffle width for the merge strategy.
        bucket: time-bucket width for the bucketed strategy (SQL interval
            string, e.g. "1 day", "6 hours") — pick ~(time span / desired
            per-hot-key parallelism).
        persist_intermediate: (bucketed) cache the tagged union that
            the bucketed plan's three consumers (in-bucket window, per-bucket
            last-state aggregate, bucket axis) all read — one evaluation
            instead of three. MEMORY_AND_DISK; intended when the input is
            already reduced to hot keys (bounded size), not for a full
            10^12-row corpus.
    """
    keys = _as_list(on)
    state_ts = state_ts or probe_ts
    if values is None:
        values = [c for c in state.columns if c not in set(keys) | {state_ts}]
    values = list(values)
    out_names = [v + suffix for v in values]

    if strategy == "union":
        return _asof_union(
            probes, state, keys, probe_ts, state_ts, values, out_names,
            strict, include_state_ts,
        )
    if strategy == "merge":
        return _asof_merge(
            probes, state, keys, probe_ts, state_ts, values, out_names,
            strict, include_state_ts, num_partitions,
        )
    if strategy == "bucketed":
        return _asof_bucketed(
            probes, state, keys, probe_ts, state_ts, values, out_names,
            strict, include_state_ts, bucket, persist_intermediate,
        )
    raise ValueError(f"unknown asof strategy: {strategy!r}")


def _tagged_union(
    probes: DataFrame,
    state: DataFrame,
    keys: list[str],
    probe_ts: str,
    state_ts: str,
    values: list[str],
    out_names: list[str],
    with_state_ts: bool = True,
) -> tuple[DataFrame, list[str]]:
    """Shared union-side builder for the union/bucketed strategies.

    State rows carry their values inside ONE struct so "last state ROW" is
    well-defined even when individual value columns are null (merge_asof
    parity); the struct itself is null on probe rows, so ignorenulls skips
    probes but never skips a state row.

    ``with_state_ts=False`` omits the matched-state-timestamp field from the
    payload (callers that never serve ``include_state_ts`` — the fused
    chain): 8 bytes per state row less through the fact-scale exchange.
    """
    probe_cols = probes.columns
    payload = F.struct(
        *[F.col(v).alias(n) for v, n in zip(values, out_names)],
        *(
            [F.col(state_ts).cast("timestamp").alias("__state_ts")]
            if with_state_ts
            else []
        ),
    )
    state_side = state.select(
        *[F.col(k) for k in keys],
        epoch_micros(state_ts).alias(_TS_KEY),
        F.lit(0).alias(_TAG),
        payload.alias(_PAYLOAD),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c)
          for c in probe_cols if c not in keys],
    )
    probe_side = probes.select(
        *[F.col(k) for k in keys],
        epoch_micros(probe_ts).alias(_TS_KEY),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(state_side.schema[_PAYLOAD].dataType).alias(_PAYLOAD),
        *[F.col(c) for c in probe_cols if c not in keys],
    )
    return state_side.unionByName(probe_side), probe_cols


def _probe_projection(
    probe_cols: list[str],
    keys: list[str],
    out_names: list[str],
    include_state_ts: str | None,
    payload_col: str = _PAYLOAD,
) -> list:
    return [
        *keys,
        *[c for c in probe_cols if c not in keys],
        *[F.col(f"{payload_col}.{n}").alias(n) for n in out_names],
        *( [F.col(f"{payload_col}.__state_ts").alias(include_state_ts)]
           if include_state_ts else [] ),
    ]


def _asof_union(
    probes: DataFrame,
    state: DataFrame,
    keys: list[str],
    probe_ts: str,
    state_ts: str,
    values: list[str],
    out_names: list[str],
    strict: bool,
    include_state_ts: str | None,
) -> DataFrame:
    unioned, probe_cols = _tagged_union(
        probes, state, keys, probe_ts, state_ts, values, out_names
    )
    # Tie policy via the secondary sort key: inclusive → state (0) sorts before
    # probe (1) at equal ts, so an exact-tie state row is inside the probe's
    # frame; strict → probe first, exact ties excluded.
    tie = F.col(_TAG).asc() if not strict else F.col(_TAG).desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS_KEY).asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
    return matched.where(F.col(_TAG) == 1).select(
        *_probe_projection(probe_cols, keys, out_names, include_state_ts)
    )


_BUCKET = "__afg_bucket"
_CARRY = "__afg_carry"


def _asof_bucketed(
    probes: DataFrame,
    state: DataFrame,
    keys: list[str],
    probe_ts: str,
    state_ts: str,
    values: list[str],
    out_names: list[str],
    strict: bool,
    include_state_ts: str | None,
    bucket: str,
    persist_intermediate: bool = False,
) -> DataFrame:
    """Skew-proof as-of: window over (entity, time-bucket) + cross-bucket carry.

    1. In-bucket pass — identical to the union strategy but partitioned by
       ``(keys..., bucket)``: a hot entity's rows spread over its active
       buckets instead of one task.
    2. Carry table — per (entity, bucket) the LAST state payload (max_by over
       (ts, tag-free payload ts)); forward-filled across buckets per entity
       with a ``rowsBetween(unboundedPreceding, -1)`` window. This table has
       one row per (entity, active bucket) — orders of magnitude smaller than
       the fact table, so its per-entity window is not a skew risk.
    3. Resolve — probes with no in-bucket match take the carry-in. Carry rows
       come from strictly earlier buckets, hence strictly earlier timestamps,
       so the strict/inclusive tie policy only matters in-bucket (step 1).
    """
    from engine.window_ops import parse_duration_seconds

    bucket_us = int(parse_duration_seconds(bucket) * 1_000_000)
    unioned, probe_cols = _tagged_union(
        probes, state, keys, probe_ts, state_ts, values, out_names
    )
    unioned = unioned.withColumn(
        _BUCKET, F.floor(F.col(_TS_KEY) / F.lit(bucket_us))
    )
    if persist_intermediate:
        from pyspark import StorageLevel

        from engine.cache import tracked_persist

        unioned = tracked_persist(unioned, StorageLevel.MEMORY_AND_DISK)

    tie = F.col(_TAG).asc() if not strict else F.col(_TAG).desc()
    w_in = (
        Window.partitionBy(*keys, _BUCKET)
        .orderBy(F.col(_TS_KEY).asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w_in))
    probes_m = matched.where(F.col(_TAG) == 1)

    # Per-(entity, bucket) last state payload. Among exact-duplicate (ts)
    # state rows the winner is resolved deterministically by the payload
    # struct's field order — the same class of tie the window strategies
    # resolve by arrival order (as does pd.merge_asof).
    state_rows = unioned.where(F.col(_TAG) == 0)
    bucket_last = state_rows.groupBy(*keys, _BUCKET).agg(
        F.max_by(
            F.col(_PAYLOAD), F.struct(F.col(_TS_KEY), F.col(_PAYLOAD))
        ).alias(_PAYLOAD)
    )
    # Bucket axis = every (entity, bucket) seen on either side, so probes in
    # state-free buckets still receive a carry row.
    axis = unioned.select(*keys, _BUCKET).distinct()
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_BUCKET).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        axis.join(bucket_last, on=[*keys, _BUCKET], how="left")
        .withColumn(_CARRY, F.last(_PAYLOAD, ignorenulls=True).over(w_carry))
        .select(*keys, _BUCKET, _CARRY)
    )

    resolved = (
        probes_m.join(carry, on=[*keys, _BUCKET], how="left")
        .withColumn(_PAYLOAD, F.coalesce(F.col(_PAYLOAD), F.col(_CARRY)))
    )
    return resolved.select(
        *_probe_projection(probe_cols, keys, out_names, include_state_ts)
    )


def _asof_merge(
    probes: DataFrame,
    state: DataFrame,
    keys: list[str],
    probe_ts: str,
    state_ts: str,
    values: list[str],
    out_names: list[str],
    strict: bool,
    include_state_ts: str | None,
    num_partitions: int | None,
) -> DataFrame:
    import pyspark.sql.types as T

    probe_cols = probes.columns
    ts_alias = "__mstate_ts"
    # Explicit pruning before the Python stage (SURVEY.md §4: Catalyst cannot
    # prune through applyInPandas). Rename state columns to be disjoint from
    # probe columns FIRST: cogroup drops right-side columns that collide with
    # left-side names (observed on Spark 4.1).
    state_sel = state.select(
        *keys,
        F.col(state_ts).alias(ts_alias),
        *[F.col(v).alias(n) for v, n in zip(values, out_names)],
    )
    probe_sel = probes.select(*probe_cols)

    out_fields = list(probes.schema.fields) + [
        T.StructField(n, state.schema[v].dataType, True)
        for v, n in zip(values, out_names)
    ]
    if include_state_ts:
        out_fields.append(T.StructField(include_state_ts, T.TimestampNTZType(), True))
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]
    if set(out_names) & set(probe_cols):
        raise ValueError(
            f"merge strategy needs disjoint output names; pass a suffix "
            f"(collisions: {sorted(set(out_names) & set(probe_cols))})"
        )
    allow_exact = not strict

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=out_cols)
        if right.empty:
            # Spark may pass an empty, even column-less, frame when this key
            # has no state rows: all fetched values are null.
            out = left.copy()
            for n in out_names:
                out[n] = None
            if include_state_ts:
                out[include_state_ts] = pd.NaT
            return out[out_cols]
        left = left.sort_values(probe_ts, kind="mergesort")
        if include_state_ts:
            right[include_state_ts] = right[ts_alias]
        right = right.drop(columns=keys).sort_values(ts_alias, kind="mergesort")
        merged = pd.merge_asof(
            left,
            right,
            left_on=probe_ts,
            right_on=ts_alias,
            direction="backward",
            allow_exact_matches=allow_exact,
        )
        return merged[out_cols]

    lg = probe_sel.groupBy(*keys)
    rg = state_sel.groupBy(*keys)
    result = lg.cogroup(rg).applyInPandas(merge, schema=out_schema)
    return result
