"""Windowed feature operators (SURVEY.md §2.4 W1-W7).

All pure-JVM window expressions — no Python workers, whole-stage codegen stays
intact. Each operator shuffles once on the entity key; composing several
operators over the SAME (entity, ts) window reuses the single sort (Catalyst
collapses adjacent Window nodes with identical specs into one exchange+sort).

Leakage discipline: forward_fill / lag / sessionize / rolling / cumulative look
strictly backward (frame upper bound = current row). ``backward_fill`` and
``lead`` read the future BY DEFINITION — they are provided for label/target
construction only and are excluded from leakage-safe feature sets
(tests/test_leakage.py asserts the safe set never changes when future rows are
mutated).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from engine.tstools import epoch_micros

_GAP_UNITS = {
    "second": 1, "seconds": 1, "s": 1,
    "minute": 60, "minutes": 60, "m": 60,
    "hour": 3600, "hours": 3600, "h": 3600,
    "day": 86400, "days": 86400, "d": 86400,
}

# the frame method's aggregates, by name → SQL function
_FRAME_AGGS = {
    "count": "count", "sum": "sum", "avg": "avg", "mean": "avg",
    "min": "min", "max": "max", "stddev": "stddev",
}
# aggregates the prefix method decomposes into additive partials
PREFIX_AGGS = {"count", "sum", "avg", "mean", "stddev"}


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _entity_window(entity: str | Sequence[str], ts: str) -> WindowSpec:
    return Window.partitionBy(*_as_list(entity)).orderBy(F.col(ts).asc())


def parse_duration_seconds(d: str | int | float) -> float:
    """'30 minutes' / '1 hour' / 90 → seconds."""
    if isinstance(d, (int, float)):
        return float(d)
    parts = d.strip().split()
    if len(parts) == 2 and parts[1].lower() in _GAP_UNITS:
        return float(parts[0]) * _GAP_UNITS[parts[1].lower()]
    raise ValueError(f"cannot parse duration: {d!r}")


def forward_fill(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Iterable[str],
    out_suffix: str = "_ffill",
) -> DataFrame:
    """W1: per entity ordered by ts, nulls replaced by the last earlier non-null."""
    w = _entity_window(entity, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in cols:
        df = df.withColumn(c + out_suffix, F.last(c, ignorenulls=True).over(w))
    return df


def backward_fill(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Iterable[str],
    out_suffix: str = "_bfill",
) -> DataFrame:
    """W2: nulls replaced by the first LATER non-null. Leakage-unsafe; labels only."""
    w = _entity_window(entity, ts).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    for c in cols:
        df = df.withColumn(c + out_suffix, F.first(c, ignorenulls=True).over(w))
    return df


def lag_features(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Iterable[str],
    lags: Sequence[int] = (1,),
    leads: Sequence[int] = (),
) -> DataFrame:
    """W3: c_lag{k} / c_lead{k} per entity ordered by ts (leads = labels only)."""
    w = _entity_window(entity, ts)
    exprs = []
    for c in cols:
        for k in lags:
            exprs.append(F.lag(c, k).over(w).alias(f"{c}_lag{k}"))
        for k in leads:
            exprs.append(F.lead(c, k).over(w).alias(f"{c}_lead{k}"))
    return df.select("*", *exprs)


def sessionize(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    gap: str | int | float = "30 minutes",
    session_col: str = "session_id",
) -> DataFrame:
    """W4: new session when the gap since the previous event exceeds ``gap``.

    ``session_col`` is a per-entity ordinal starting at 1 (first event of the
    first session = 1). The window takes ``lag(ts)`` of the bare column and
    only then converts both ends to µs through epoch_micros (TIMESTAMP_NTZ
    rule, SURVEY.md §0.1): a window function over a computed expression
    would keep Catalyst from merging this window with its neighbours.
    """
    gap_us = int(parse_duration_seconds(gap) * 1_000_000)
    w = _entity_window(entity, ts)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(ts).over(w)
    is_new = F.when(
        prev.isNull() | ((epoch_micros(ts) - epoch_micros(prev)) > gap_us), 1
    ).otherwise(0)
    return df.withColumn(session_col, F.sum(is_new).over(wsum))


def _quote(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _interval(us: int) -> str:
    """A µs duration as an exact SQL day-time interval literal."""
    return f"INTERVAL '{us // 1_000_000}.{us % 1_000_000:06d}' SECOND"


def _range_over(agg: str, entity: Sequence[str], ts: str, frame: str) -> Column:
    """SQL aggregate ``agg`` over ``partitionBy(entity).orderBy(ts)`` with
    ``RANGE BETWEEN frame``. The DataFrame API takes only numeric RANGE
    bounds, which would force ordering by a computed µs column; SQL takes
    interval bounds on the bare ts column, so the window reuses an
    existing ``(entity, ts)`` sort."""
    part = ", ".join(_quote(c) for c in entity)
    return F.expr(
        f"{agg} OVER (PARTITION BY {part} ORDER BY {_quote(ts)} "
        f"RANGE BETWEEN {frame})"
    )


def rolling_aggregates(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    aggs: dict[str, Sequence[str]],
    window: str | int | float = "1 hour",
    method: str = "frame",
) -> DataFrame:
    """W5: trailing time-range aggregates per entity — events in [t-W, t].

    ``aggs`` maps column → aggregate names among {count,sum,avg,min,max,stddev}.
    Output columns ``{col}_{fn}_{suffix}`` where suffix is the window spec with
    spaces stripped (e.g. value_sum_1hour). Inclusive both ends, matching SQL
    ``RANGE BETWEEN INTERVAL W PRECEDING AND CURRENT ROW``. Both methods
    order by the bare ``ts`` column with interval frame bounds, so ``ts``
    must be TIMESTAMP or TIMESTAMP_NTZ (``ValueError`` otherwise) and the
    window reuses an earlier ``(entity, ts)`` sort (an as-of, a lag).

    Two physical methods, identical semantics (allclose; tests compare both):

    * ``method="frame"`` (default): one window with a sliding RANGE frame.
      Bit-for-bit the SQL answer (used by the DuckDB-oracle queries). Caveat
      at scale: Spark re-evaluates sliding-frame aggregates per row — O(rows
      × frame) per entity, serial per entity — so a hot key with n rows and
      wide frames costs n·w in ONE task.
    * ``method="prefix"``: decomposable aggregates (count/sum/avg/stddev)
      as the difference of two GROWING frames over one ordering: the
      running partial up to ``t`` (``RANGE UNBOUNDED PRECEDING .. CURRENT
      ROW``) minus the running partial up to the cutoff ``t − W − 1µs``
      (``RANGE UNBOUNDED PRECEDING .. W+1µs PRECEDING``). Both frames only
      grow, so Spark evaluates each incrementally — O(n) per entity — where
      the sliding frame costs O(n·w) serial in ONE task for a hot key. Both
      share one window spec: one sort, no explode, no join. The hot-key
      chain (``engine.fused``) uses the same partials. Float results are
      allclose-but-not-bitwise vs "frame" (subtraction of prefix sums).
      min/max do not decompose and are rejected under this method.
    """
    win_us = int(parse_duration_seconds(window) * 1_000_000)
    suffix = (
        window.replace(" ", "") if isinstance(window, str) else f"{int(window)}s"
    )
    ents = _as_list(entity)
    ts_type = df.schema[ts].dataType
    if not isinstance(ts_type, (TimestampType, TimestampNTZType)):
        raise ValueError(
            f"rolling_aggregates needs a TIMESTAMP or TIMESTAMP_NTZ ts column; "
            f"{ts!r} is {ts_type.simpleString()}"
        )
    if method == "frame":
        frame = f"{_interval(win_us)} PRECEDING AND CURRENT ROW"
        return df.select("*", *[
            _range_over(f"{_FRAME_AGGS[n]}({_quote(c)})", ents, ts, frame)
            .alias(f"{c}_{n}_{suffix}")
            for c, names in aggs.items()
            for n in names
        ])
    if method != "prefix":
        raise ValueError(f"unknown rolling method: {method!r}")

    bad = [n for ns in aggs.values() for n in ns if n not in PREFIX_AGGS]
    if bad:
        raise ValueError(f"method='prefix' cannot compute {bad}; use method='frame'")
    now = "UNBOUNDED PRECEDING AND CURRENT ROW"
    cut = f"UNBOUNDED PRECEDING AND {_interval(win_us + 1)} PRECEDING"
    d = df.select("*", *[
        (
            _range_over(e, ents, ts, now)
            - F.coalesce(_range_over(e, ents, ts, cut), F.lit(0))
        ).alias(p)
        for p, e in prefix_partials(aggs).items()
    ])
    return d.select(*df.columns, *prefix_finals(aggs, suffix, F.col))


def prefix_partials(aggs: dict[str, Sequence[str]]) -> dict[str, str]:
    """Additive per-row partials of the prefix method, by name, as SQL
    aggregates over bare columns: the non-null count of every column (it
    gates the empty-window → NULL rule), plus the sum of the value and of
    its square where an aggregate needs them."""
    specs: dict[str, str] = {}
    for c, names in aggs.items():
        need, q = set(names), _quote(c)
        specs[f"__cn_{c}"] = f"count({q})"
        if need - {"count"}:
            specs[f"__cs_{c}"] = f"sum({q})"
        if "stddev" in need:
            specs[f"__cq_{c}"] = f"sum({q} * {q})"
    return specs


def prefix_finals(aggs, suffix: str, in_window) -> list[Column]:
    """The rolling outputs ``{col}_{fn}_{suffix}`` from ``in_window(p)``,
    each partial ``p`` of :func:`prefix_partials` summed over the window."""
    out = []
    for c, names in aggs.items():
        n_w = in_window(f"__cn_{c}")
        for n in names:
            if n == "count":
                e = n_w.cast("long")
            elif n == "sum":
                e = F.when(n_w > 0, in_window(f"__cs_{c}"))
            elif n in ("avg", "mean"):
                e = F.when(n_w > 0, in_window(f"__cs_{c}") / n_w)
            else:  # stddev
                s_w, q_w = in_window(f"__cs_{c}"), in_window(f"__cq_{c}")
                var = (q_w - s_w * s_w / n_w) / (n_w - F.lit(1))
                e = F.when(n_w > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
            out.append(e.alias(f"{c}_{n}_{suffix}"))
    return out


def cumulative_stats(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    aggs: dict[str, Sequence[str]],
) -> DataFrame:
    """W7: running aggregates per entity since the start of its history."""
    w = _entity_window(entity, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fns = {"count": F.count, "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}
    exprs = [
        fns[n](F.col(c)).over(w).alias(f"{c}_cum{n}")
        for c, names in aggs.items()
        for n in names
    ]
    return df.select("*", *exprs)


def top_k_per_group(
    df: DataFrame,
    keys: str | Sequence[str],
    order_by: str | Column,
    k: int = 1,
    desc: bool = True,
    tiebreak: str | None = None,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """W6/O3: k top rows per group by ``order_by`` (deterministic with tiebreak)."""
    oc = F.col(order_by) if isinstance(order_by, str) else order_by
    order = [oc.desc() if desc else oc.asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*_as_list(keys)).orderBy(*order)
    out = df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)
