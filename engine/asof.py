"""Point-in-time (as-of) join — the engine's core operator.

Requirement: BASELINE.json:6 — "sorted-partition as-of merge (range-partition by
entity hash, secondary sort by event timestamp, merge-join with last-known-value
semantics)" with zero temporal leakage (BASELINE.json:14). SURVEY.md §2.3 A1/A2.

One physical plan, pure JVM, and it IS that sorted-partition merge: tag the
two sides, ``unionByName``, hash-partition by entity (the window's one
exchange), sort by ``(ts, tag)`` inside each partition, then one streaming
``last(payload, ignorenulls)`` pass over
``partitionBy(entity).orderBy(ts, tag)`` carries the last-known state row
onto every probe row; keep probe rows. Whole-stage-codegen friendly, no
Python worker. Hot entities are not an as-of option: a plan lowered with
``hot_keys`` (``engine.plan.lower``) time-splits them inside the fused
chain (``engine.fused``), the engine's one skew mechanism.

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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__afg_is_probe"
_PAYLOAD = "__afg_payload"


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
    suffix: str = "",
    include_state_ts: str | None = None,
) -> DataFrame:
    """Backward as-of join: each probe row gains the latest state values.

    Args:
        probes: left side — (entity, probe_ts, any payload columns).
        state: right side — (entity, state_ts, value columns).
        on: entity key column(s), present on both sides.
        probe_ts / state_ts: event-time columns (state_ts defaults to probe_ts).
        values: state columns to fetch (default: all but key + ts).
        strict: True → only state with ts strictly < probe ts (no exact ties).
        suffix: appended to fetched value column names (collision control).
        include_state_ts: if set, also emit the matched state timestamp under
            this name (null when no match).
    """
    keys = _as_list(on)
    state_ts = state_ts or probe_ts
    if values is None:
        values = [c for c in state.columns if c not in set(keys) | {state_ts}]
    values = list(values)
    out_names = [v + suffix for v in values]
    fields = [F.col(v).alias(n) for v, n in zip(values, out_names)]
    if include_state_ts:
        fields.append(F.col(state_ts).cast("timestamp").alias(include_state_ts))
        out_names.append(include_state_ts)
    unioned = _tagged_union(probes, state, keys, probe_ts, state_ts, fields)
    # Tie policy via the secondary sort key: inclusive → state (0) sorts before
    # probe (1) at equal ts, so an exact-tie state row is inside the probe's
    # frame; strict → probe first, exact ties excluded.
    tie = F.col(_TAG).asc() if not strict else F.col(_TAG).desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(probe_ts).asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
    return matched.where(F.col(_TAG) == 1).select(
        *keys,
        *[c for c in probes.columns if c not in keys],
        *[F.col(f"{_PAYLOAD}.{n}").alias(n) for n in out_names],
    )


def _tagged_union(
    probes: DataFrame,
    state: DataFrame,
    keys: list[str],
    probe_ts: str,
    state_ts: str,
    fields: list[Column],
) -> DataFrame:
    """The tagged probe∪state input of the sorted-partition merge, shared by
    :func:`asof_join` and the fused chain (``engine.fused``): the probe
    columns, a tag, and the state ``fields`` in one payload struct.

    The union's time column is the probe's own ``probe_ts`` (state rows put
    their ``state_ts``, cast to its type, there), so the output keeps the
    column the as-of sorted by: a later window that orders by ``probe_ts``
    reuses that sort instead of adding its own.

    State rows carry their values inside ONE struct so "last state ROW" is
    well-defined even when individual value columns are null (merge_asof
    parity); the struct itself is null on probe rows, so ignorenulls skips
    probes but never skips a state row.
    """
    payload = F.struct(*fields)
    ts_type = probes.schema[probe_ts].dataType
    state_side = state.select(
        *[F.col(k) for k in keys],
        F.lit(0).alias(_TAG),
        payload.alias(_PAYLOAD),
        *[
            F.col(state_ts).cast(ts_type).alias(c) if c == probe_ts
            else F.lit(None).cast(probes.schema[c].dataType).alias(c)
            for c in probes.columns if c not in keys
        ],
    )
    probe_side = probes.select(
        *[F.col(k) for k in keys],
        F.lit(1).alias(_TAG),
        F.lit(None).cast(state_side.schema[_PAYLOAD].dataType).alias(_PAYLOAD),
        *[F.col(c) for c in probes.columns if c not in keys],
    )
    return state_side.unionByName(probe_side)
