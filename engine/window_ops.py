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

from engine.tstools import epoch_micros

_GAP_UNITS = {
    "second": 1, "seconds": 1, "s": 1,
    "minute": 60, "minutes": 60, "m": 60,
    "hour": 3600, "hours": 3600, "h": 3600,
    "day": 86400, "days": 86400, "d": 86400,
}


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
    hot_keys: list | None = None,
    bucket: str | int | float = "1 day",
) -> DataFrame:
    """W1: per entity ordered by ts, nulls replaced by the last earlier non-null.

    ``hot_keys``/``bucket``: skew-proof time-bucketed routing, see lag_features.
    """
    if hot_keys:
        from engine import hotwin

        pred = hotwin.hot_predicate(entity, hot_keys)
        cold = forward_fill(
            df.where(~F.coalesce(pred, F.lit(False))), entity, ts, cols, out_suffix
        )
        hot = hotwin.bucketed_forward_fill(
            df.where(pred), entity, ts, cols, out_suffix,
            bucket_us=int(parse_duration_seconds(bucket) * 1_000_000),
        )
        return cold.unionByName(hot.select(*cold.columns))
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
    hot_keys: list | None = None,
    bucket: str | int | float = "1 day",
) -> DataFrame:
    """W3: c_lag{k} / c_lead{k} per entity ordered by ts (leads = labels only).

    ``hot_keys``: keys routed through the time-bucketed skew-proof plan
    (engine.hotwin) instead of serializing into one window task; ``bucket``
    is its time-split width. Cold keys keep this plain single-window plan.
    """
    if hot_keys:
        from engine import hotwin

        pred = hotwin.hot_predicate(entity, hot_keys)
        cold = lag_features(
            df.where(~F.coalesce(pred, F.lit(False))), entity, ts, cols, lags, leads
        )
        hot = hotwin.bucketed_lag_features(
            df.where(pred), entity, ts, cols, lags, leads,
            bucket_us=int(parse_duration_seconds(bucket) * 1_000_000),
        )
        return cold.unionByName(hot.select(*cold.columns))
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
    hot_keys: list | None = None,
    bucket: str | int | float = "1 day",
) -> DataFrame:
    """W4: new session when the gap since the previous event exceeds ``gap``.

    ``session_col`` is a per-entity ordinal starting at 1 (first event of the
    first session = 1). Timestamp math goes through epoch_micros (TIMESTAMP_NTZ
    rule, SURVEY.md §0.1). ``hot_keys``/``bucket``: see ``lag_features``.
    """
    gap_us = int(parse_duration_seconds(gap) * 1_000_000)
    if hot_keys:
        from engine import hotwin

        pred = hotwin.hot_predicate(entity, hot_keys)
        cold = sessionize(
            df.where(~F.coalesce(pred, F.lit(False))), entity, ts,
            gap=gap, session_col=session_col,
        )
        hot = hotwin.bucketed_sessionize(
            df.where(pred), entity, ts, gap_us, session_col=session_col,
            bucket_us=int(parse_duration_seconds(bucket) * 1_000_000),
        )
        return cold.unionByName(hot.select(*cold.columns))
    w = _entity_window(entity, ts)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = epoch_micros(ts)
    prev_us = F.lag(ts_us).over(w)
    is_new = F.when(prev_us.isNull() | ((ts_us - prev_us) > gap_us), 1).otherwise(0)
    return df.withColumn(session_col, F.sum(is_new).over(wsum))


def rolling_aggregates(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    aggs: dict[str, Sequence[str]],
    window: str | int | float = "1 hour",
    method: str = "frame",
    hot_keys: list | None = None,
    bucket: str | int | float = "1 day",
    _bucket_us: int | None = None,
) -> DataFrame:
    """W5: trailing time-range aggregates per entity — events in [t-W, t].

    ``aggs`` maps column → aggregate names among {count,sum,avg,min,max,stddev}.
    Output columns ``{col}_{fn}_{suffix}`` where suffix is the window spec with
    spaces stripped (e.g. value_sum_1hour). Inclusive both ends, matching SQL
    ``RANGE BETWEEN INTERVAL W PRECEDING AND CURRENT ROW``.

    Two physical methods, identical semantics (allclose; tests compare both):

    * ``method="frame"`` (default): one window with a sliding RANGE frame.
      Bit-for-bit the SQL answer (used by the DuckDB-oracle queries). Caveat
      at scale: Spark re-evaluates sliding-frame aggregates per row — O(rows
      × frame) per entity, serial per entity — so a hot key with n rows and
      wide frames costs n·w in ONE task.
    * ``method="prefix"``: decomposable aggregates (count/sum/avg/stddev)
      as running cumulative sums (incremental expanding frame, O(n)) minus
      their value at the window cutoff, fetched via the engine's own as-of
      join (strategy U) at ``t − W − 1µs``. Turns the hot-key cost from
      O(n·w) serial into O(n) — the scalable path for skewed corpora (used
      by the flagship job). Float results are allclose-but-not-bitwise vs
      "frame" (subtraction of prefix sums). min/max do not decompose and
      are rejected under this method.
    """
    win_us = int(parse_duration_seconds(window) * 1_000_000)
    suffix = (
        window.replace(" ", "") if isinstance(window, str) else f"{int(window)}s"
    )
    ents = _as_list(entity)
    if hot_keys:
        if method != "prefix":
            raise ValueError("hot_keys requires method='prefix' (frame is O(n·w) serial per key)")
        from engine import hotwin

        pred = hotwin.hot_predicate(entity, hot_keys)
        cold = rolling_aggregates(
            df.where(~F.coalesce(pred, F.lit(False))), entity, ts, aggs,
            window=window, method="prefix",
        )
        hot = rolling_aggregates(
            df.where(pred), entity, ts, aggs, window=window, method="prefix",
            _bucket_us=int(parse_duration_seconds(bucket) * 1_000_000),
        )
        return cold.unionByName(hot.select(*cold.columns))
    if method == "frame":
        order = epoch_micros(ts)
        w = (
            Window.partitionBy(*ents)
            .orderBy(order)
            .rangeBetween(-win_us, 0)
        )
        fns = {
            "count": F.count, "sum": F.sum, "avg": F.avg, "mean": F.avg,
            "min": F.min, "max": F.max, "stddev": F.stddev,
        }
        exprs = [
            fns[n](F.col(c)).over(w).alias(f"{c}_{n}_{suffix}")
            for c, names in aggs.items()
            for n in names
        ]
        return df.select("*", *exprs)
    if method != "prefix":
        raise ValueError(f"unknown rolling method: {method!r}")

    decomposable = {"count", "sum", "avg", "mean", "stddev"}
    bad = [n for ns in aggs.values() for n in ns if n not in decomposable]
    if bad:
        raise ValueError(f"method='prefix' cannot compute {bad}; use method='frame'")

    from engine.asof import asof_join  # local import: asof.py imports this module

    specs: dict[str, Column] = {}
    for c, names in aggs.items():
        need = set(names)
        # count partial always needed: it gates the empty-window → NULL rule
        specs[f"__cn_{c}"] = F.when(F.col(c).isNotNull(), F.lit(1)).otherwise(F.lit(0))
        if need & {"sum", "avg", "mean", "stddev"}:
            specs[f"__cs_{c}"] = F.col(c)
        if "stddev" in need:
            specs[f"__cq_{c}"] = F.col(c) * F.col(c)
    partials = list(specs)

    if _bucket_us:
        # hot-key path: bucket-stitched expanding sums (engine.hotwin) and a
        # time-bucketed as-of for the cutoff lookup — no serial hot task
        from engine.hotwin import bucketed_expanding_sums

        d = bucketed_expanding_sums(df, ents, ts, specs, bucket_us=_bucket_us)
        cut = "__afg_cutoff_ts"
        state_ts = "__afg_prefix_ts"
        d = d.withColumn(cut, F.timestamp_micros(epoch_micros(ts) - F.lit(win_us + 1)))
        # This path runs on hot keys only (bounded input); the cutoff as-of
        # reads d twice (probe + state side) AND its own bucketed machinery
        # references d repeatedly — checkpoint to truncate the plan (a
        # persist would leave the full upstream tree nested in each
        # reference; see engine.cache.chain_checkpoint)
        from engine.cache import chain_checkpoint

        d = chain_checkpoint(d)
        # State rows at tied timestamps carry identical range-frame cums, so
        # the as-of's arbitrary pick among ties cannot change the result.
        state = d.select(*ents, F.col(ts).alias(state_ts), *partials)
        joined = asof_join(
            d, state, on=ents, probe_ts=cut, state_ts=state_ts,
            values=partials, suffix="_b", strategy="bucketed",
            bucket=_bucket_us / 1e6, persist_intermediate=True,
        )
    else:
        # FUSED single-pass plan. A plain self-as-of would reference this
        # DataFrame twice (probe + state side), making Spark compute the
        # whole upstream chain twice per run. Instead each row explodes into
        # its two roles — a state row at ts carrying the cums, and a probe
        # row keyed at ts − W − 1µs — and ONE window resolves the cutoff
        # cums: upstream is evaluated exactly once, no join.
        wcum = (
            Window.partitionBy(*ents)
            .orderBy(epoch_micros(ts))
            .rangeBetween(Window.unboundedPreceding, 0)  # peer-inclusive, incremental
        )
        d = df
        for name, expr in specs.items():
            d = d.withColumn(name, F.sum(expr).over(wcum))
        ts_us = epoch_micros(ts)
        pay = F.struct(*[F.col(p) for p in partials])
        role = F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("__side"), ts_us.alias("__key"), pay.alias("__pay")
                ),
                F.struct(
                    F.lit(1).alias("__side"),
                    (ts_us - F.lit(win_us + 1)).alias("__key"),
                    # typed NULL of the same struct type, no string plumbing
                    F.when(F.lit(False), pay).alias("__pay"),
                ),
            )
        )
        e = d.withColumn("__role", role)
        e = e.select("*", "__role.__side", "__role.__key", "__role.__pay").drop("__role")
        # state (0) sorts before probe (1) at equal keys: a state row at
        # exactly ts − W − 1µs is ≤ the cutoff, hence inside the base prefix.
        w_res = (
            Window.partitionBy(*ents)
            .orderBy(F.col("__key").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        resolved = e.withColumn("__pay", F.last("__pay", ignorenulls=True).over(w_res))
        joined = resolved.where(F.col("__side") == 1).select(
            *[c for c in d.columns],
            *[F.col(f"__pay.{p}").alias(p + "_b") for p in partials],
        )

    def minus(cur, base):
        return F.col(cur) - F.coalesce(F.col(base), F.lit(0))

    out = joined
    for c, names in aggs.items():
        n_w = minus(f"__cn_{c}", f"__cn_{c}_b")
        s_w = minus(f"__cs_{c}", f"__cs_{c}_b") if f"__cs_{c}" in partials else None
        for n in names:
            o = f"{c}_{n}_{suffix}"
            if n == "count":
                out = out.withColumn(o, n_w.cast("long"))
            elif n == "sum":
                out = out.withColumn(o, F.when(n_w > 0, s_w))
            elif n in ("avg", "mean"):
                out = out.withColumn(o, F.when(n_w > 0, s_w / n_w))
            elif n == "stddev":
                q_w = minus(f"__cq_{c}", f"__cq_{c}_b")
                var = (q_w - s_w * s_w / n_w) / (n_w - F.lit(1))
                out = out.withColumn(
                    o,
                    F.when(n_w > 1, F.sqrt(F.greatest(var, F.lit(0.0)))),
                )
    drop = ["__afg_cutoff_ts", *partials, *[p + "_b" for p in partials]]
    return out.drop(*drop)


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


def dedup_latest(
    df: DataFrame,
    keys: str | Sequence[str],
    ts: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Latest row per key — the A1 state-dedup step."""
    return top_k_per_group(df, keys, ts, k=1, desc=True, tiebreak=tiebreak)
