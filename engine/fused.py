"""Fused feature chain with hot keys: as-of + ffill + lag + sessionize +
prefix rolling, compiled as ONE plan of TWO wide shuffles with the
engine's one hot/cold skew split built in. ``engine.plan.lower`` compiles
a matching plan here when it is given hot keys; with none, every plan
lowers plainly, and ``fused_feature_chain(hot_keys=())`` is the public
operators' composition, which already shares the as-of's one sort.

Why this exists: per-op skew splits (since removed) routed hot entities
through a time-bucketed variant of each window operator. Each variant was
correct and individually skew-proof, but each paid its own wide exchange,
carry aggregation, and carry join — chained, the hot branch of the
flagship pipeline compiled to ~10 wide shuffles plus 2 plan-truncation
checkpoints, and its wall time was dominated by per-stage fixed costs that
do not shrink with cores (measured ~0.5 scaling efficiency 4→16 cores for
the hot branch while the cold chain sat near the CPU ceiling). This module
is now the engine's only way to time-split hot keys.

The fusion observation: every op in the chain wants the SAME physical
layout — rows hash-clustered by ``(entity, time_bucket)`` and sorted by
event time. Spark evaluates any number of window expressions over one
partitioning+ordering in a single Window operator without re-shuffling, so
the whole chain collapses to:

* **Exchange 1** — the tagged probe∪state union, clustered by
  ``(entity, bucket)``; one sorted pass computes the in-bucket as-of
  resolution, per-probe row numbers, in-bucket lags, the session-gap
  flag, and the in-bucket expanding (range) cums for the rolling partials.
* **Tiny carry tables** — one row per (entity, active bucket): the as-of
  carry (last state payload, forward-filled), and a second carry holding
  per-bucket max/min timestamps, session-flag totals, rolling-partial
  totals, and the K-row bucket tail for cross-bucket lag context. Both are
  |entities × buckets| — broadcast-joined, never a wide shuffle.
* **Exchange 2** — the prefix-rolling cutoff resolution: each feature row
  explodes into (state@ts, probe@ts−W−1µs) roles clustered by
  ``(entity, bucket_of_role_key)``; one sorted pass resolves the cutoff
  cums; buckets that hold no earlier row fall back to a broadcast
  per-bucket start-offset table.

**Hot/cold split (``hot_keys=``)** — the whole-pipeline skew split collapses
into the SAME two exchanges: the bucket id becomes
``B = hot(entity) ? floor(ts/bucket) : 0``, so hot entities are time-split
across tasks while every cold entity keeps a single per-entity group
(exactly the plain single-window plan). The carry tables are built from
the hot slices only (tiny, persisted once) and broadcast; cold rows simply
miss in the carry join and coalesce to the no-earlier-bucket defaults —
which is precisely their semantics. Compared to the two-branch split
(cold chain ∪ per-op bucketed hot chain), this removes the duplicate input
scans, the hot branch's ~10 fixed-cost stages, the plan-truncation
checkpoints, and the branch persists: the big data makes exactly one pass
through each exchange. At 100 TB the carry tables stay
|hot_keys × active buckets| rows — size ``bucket`` so that stays
broadcastable (e.g. 10k hot keys × 120 buckets ≈ 1.2M tiny rows).

Semantics are IDENTICAL to composing the public operators
(``asof_join`` → ``lag_features`` → ``sessionize`` →
``rolling_aggregates(method="prefix")``); tests/test_fused.py asserts
row-level equality against that composition for some and all entities
hot. Determinism requires unique ``(entity, ts)`` probe rows
(same as the composed ops — window ordering among exact ties is
engine-chosen either way).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from engine.asof import _PAYLOAD, _TAG, _tagged_union, asof_join
from engine.cache import tracked_persist
from engine.hotwin import hot_predicate
from engine.tstools import epoch_micros
from engine.window_ops import (
    PREFIX_AGGS,
    forward_fill,
    lag_features,
    parse_duration_seconds,
    prefix_finals,
    prefix_partials,
    rolling_aggregates,
    sessionize,
)

_TS_KEY = "__fx_ts"
_B = "__fx_b"
_SK = "__fx_sk"


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _empty_like(col: Column) -> Column:
    """Typed empty array matching ``col``'s element type."""
    return F.slice(col, 1, 0)


def fused_feature_chain(
    probes: DataFrame,
    state: DataFrame,
    on: str | Sequence[str],
    probe_ts: str = "ts",
    state_ts: str | None = None,
    values: Sequence[str] | None = None,
    suffix: str = "",
    strict: bool = False,
    lag_cols: Sequence[str] = (),
    lags: Sequence[int] = (1,),
    session_gap: str | int | float | None = None,
    session_col: str = "session_id",
    rolling: dict[str, Sequence[str]] | None = None,
    rolling_window: str | int | float = "1 day",
    bucket: str | int | float = "6 hours",
    hot_keys: Sequence = (),
    ffill_cols: Sequence[str] = (),
    ffill_suffix: str = "_ffill",
) -> DataFrame:
    """Fused feature chain over ``probes`` against ``state``.

    Equivalent to::

        f = asof_join(probes, state, on, probe_ts, state_ts, values,
                      strict=strict, suffix=suffix)
        f = forward_fill(f, on, probe_ts, ffill_cols, ffill_suffix)  # W1
        f = lag_features(f, on, probe_ts, lag_cols, lags=lags)
        f = sessionize(f, on, probe_ts, gap=session_gap)      # if gap given
        f = rolling_aggregates(f, on, probe_ts, rolling,
                               window=rolling_window, method="prefix")

    — with no ``hot_keys`` it IS that composition (one exchange, one
    sort); with hot keys it is two wide shuffles. ``lag_cols`` name columns AFTER
    the as-of suffix is applied (e.g. ``fvalue_last``); ``rolling`` maps
    those names to agg lists among {count, sum, avg, mean, stddev}.
    ``ffill_cols`` forward-fill existing probe/as-of columns in the same
    windows (in-bucket ``last(ignorenulls)`` + a per-bucket last-non-null
    carry, forward-filled over the bucket axis); ``lag_cols``/``rolling``
    must not reference the ffill OUTPUT columns (fill first yourself, or
    use the composed operators) — ffill outputs are assembled after the
    in-bucket lag/cum expressions.

    ``hot_keys`` (e.g. from ``engine.skew.straggler_hot_keys``): listed
    entities are time-bucketed by ``bucket``, everything else runs as a
    plain per-entity group in the same two exchanges, and the carry tables
    are built from the (tiny, persisted) hot slices only. Listing every
    entity time-splits them all. An empty list means "no skew": the plan
    is the one-exchange, one-sort chain.
    """
    keys = _as_list(on)
    state_ts = state_ts or probe_ts
    if values is None:
        values = [c for c in state.columns if c not in set(keys) | {state_ts}]
    values = list(values)
    out_names = [v + suffix for v in values]
    lag_cols = list(lag_cols)
    ffill_cols = list(ffill_cols)
    bad_ff = {c + ffill_suffix for c in ffill_cols} & (
        set(lag_cols) | set(rolling or {})
    )
    if bad_ff:
        raise ValueError(
            f"fused chain cannot lag/roll over ffill outputs {sorted(bad_ff)}"
        )
    lags = sorted(set(int(k) for k in lags))
    k_max = max(lags) if lags else 0
    bucket_us = int(parse_duration_seconds(bucket) * 1_000_000)
    gap_us = (
        int(parse_duration_seconds(session_gap) * 1_000_000)
        if session_gap is not None
        else None
    )
    win_us = int(parse_duration_seconds(rolling_window) * 1_000_000)
    rolling = rolling or {}
    bad = [n for ns in rolling.values() for n in ns if n not in PREFIX_AGGS]
    if bad:
        raise ValueError(f"fused chain cannot compute rolling {bad} (prefix method)")
    rsuffix = (
        rolling_window.replace(" ", "")
        if isinstance(rolling_window, str)
        else f"{int(rolling_window)}s"
    )
    hot_keys = list(hot_keys)
    if not hot_keys:
        # No entity needs time-splitting: the public operators compose to
        # one exchange and one sort (every window after the as-of orders by
        # a prefix of its sort).
        f = asof_join(probes, state, keys, probe_ts, state_ts, values,
                      strict=strict, suffix=suffix)
        if ffill_cols:
            f = forward_fill(f, keys, probe_ts, ffill_cols, ffill_suffix)
        if lag_cols:
            f = lag_features(f, keys, probe_ts, lag_cols, lags=lags)
        if gap_us is not None:
            f = sessionize(f, keys, probe_ts, gap=session_gap, session_col=session_col)
        if rolling:
            f = rolling_aggregates(f, keys, probe_ts, rolling,
                                   window=rolling_window, method="prefix")
        return f

    probe_cols = probes.columns
    unioned = _tagged_union(
        probes, state, keys, probe_ts, state_ts,
        [F.col(v).alias(n) for v, n in zip(values, out_names)],
    ).withColumn(_TS_KEY, epoch_micros(probe_ts))
    tie = F.col(_TAG).asc() if not strict else F.col(_TAG).desc()
    pred = hot_predicate(on, hot_keys)
    specs = prefix_partials(rolling)
    partials = list(specs)

    def bucket_of(col: Column) -> Column:
        """Only hot entities are time-split; a cold entity keeps one group
        (B=0), making its in-bucket window the complete computation."""
        return F.when(pred, F.floor(col / F.lit(bucket_us))).otherwise(F.lit(0))

    # ---- Exchange 1: one scan, one shuffle, both tags retained ----------
    # The probe∪state union is hash-clustered by (entity, B) and sorted
    # once; the in-bucket as-of resolution is computed for EVERY row (for a
    # state row last(payload) up to itself is its own payload, so the
    # overwrite is the identity on states). The result is persisted and
    # feeds four consumers — the main probe chain, the per-bucket state
    # carry, the bucket axis, and the hot-slice carry-2 source — so the fact
    # tables are scanned exactly once and no carry subtree rescans them
    # (the previous design's hot-slice scans + second mini-pipeline were
    # measured at ~0.5 scaling efficiency 4→16 cores: near-constant cost).
    unioned = unioned.withColumn(_B, bucket_of(F.col(_TS_KEY)))
    # Sort-key prefix hardening: corpus entity keys routinely share a long
    # common prefix (doc%012d here; URLs/paths in real corpora), so Spark's
    # 8-byte sort-prefix comparator never discriminates and EVERY comparison
    # in the fact-scale window sorts falls through to a full string compare.
    # A leading 64-bit hash of the keys makes the prefix decisive for ~all
    # comparisons (equal hashes fall back to the real key, so grouping is
    # exact). The hash is a pure function of the keys: window groups and
    # exchange co-location are unchanged.
    unioned = unioned.withColumn(_SK, F.xxhash64(*keys))
    w_asof = (
        Window.partitionBy(_SK, *keys, _B)
        .orderBy(F.col(_TS_KEY).asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mid_full = unioned.withColumn(
        _PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w_asof)
    )
    # Persist ONLY what downstream consumers read: every probe row, plus the
    # hot rows that seed the carry tables. A COLD state row's whole job ends
    # inside the window pass above — its payload has already been folded
    # into the probe rows of its group, and the carries are built from hot
    # slices only — so caching it is pure waste. At the bench's 5%
    # hot fraction this shrinks the persisted mid-frame ~4x (80M rows -> 20M);
    # the filter runs in the same stage as the window (no extra exchange) and
    # preserves the (entity, B) hash partitioning + sort order for the
    # downstream window reuse.
    mid_all = tracked_persist(mid_full.where((F.col(_TAG) == 1) | pred))

    # ---- as-of cross-bucket carry (tiny, broadcast) ---------------------
    # Per-(entity, bucket) last state payload, forward-filled over the union
    # of probe and state bucket axes, for hot entities only. Among exact-
    # duplicate (ts) state rows max_by picks by the payload struct's field
    # order: deterministic, the same class of tie the in-bucket window
    # resolves by arrival order (as does pd.merge_asof). A cold row misses the
    # carry join and coalesces to the no-earlier-bucket defaults, which is
    # exactly its single-group semantics.
    carry_src = mid_all.where(pred)
    # _SK leads every carry grouping too: it's a pure function of the keys
    # (groups unchanged) and keeps the carry aggregations satisfiable by the
    # E1 exchange's (_SK, keys, B) clustering — no re-shuffle of the frame.
    bucket_last = (
        carry_src.where(F.col(_TAG) == 0)
        .groupBy(_SK, *keys, _B)
        .agg(
            F.max_by(
                F.col(_PAYLOAD), F.struct(F.col(_TS_KEY), F.col(_PAYLOAD))
            ).alias("__fx_pay")
        )
    )
    axis = carry_src.select(_SK, *keys, _B).distinct()
    w_ff = (
        Window.partitionBy(_SK, *keys)
        .orderBy(F.col(_B))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    asof_carry = (
        axis.join(bucket_last, on=[_SK, *keys, _B], how="left")
        .withColumn("__fx_carry", F.last("__fx_pay", ignorenulls=True).over(w_ff))
        .select(_SK, *keys, _B, "__fx_carry")
    )

    # ---- second window set over the as-of-resolved probe rows -----------
    w_rows = Window.partitionBy(_SK, *keys, _B).orderBy(F.col(_TS_KEY))
    w_range = w_rows.rangeBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(_SK, *keys, _B)
    exprs = [
        F.row_number().over(w_rows).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__cnt"),
    ]
    if gap_us is not None:
        exprs.append(F.lag(F.col(_TS_KEY)).over(w_rows).alias("__pts"))
    for c in lag_cols:
        for k in lags:
            exprs.append(F.lag(F.col(c), k).over(w_rows).alias(f"__lg_{c}_{k}"))
    for p, agg in specs.items():
        exprs.append(F.expr(agg).over(w_range).alias(f"__cum_{p}"))
    # in-bucket forward fill: same partitioning+ordering, one more window
    # expression in the shared pass (no extra exchange)
    w_cumrows = w_rows.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in ffill_cols:
        exprs.append(
            F.last(F.col(c), ignorenulls=True).over(w_cumrows).alias(f"__ff_{c}")
        )

    def probe_chain(src: DataFrame) -> DataFrame:
        """Cached rows → as-of-resolved feature rows with rn / lags /
        session flag / in-bucket cums. Reads the mid_all cache; the windows
        reuse its (entity, B) partitioning (sort only, no exchange)."""
        d = src.where(F.col(_TAG) == 1)
        d = d.join(F.broadcast(asof_carry), on=[_SK, *keys, _B], how="left")
        pay = F.coalesce(F.col(_PAYLOAD), F.col("__fx_carry"))
        d = d.select(
            _SK,
            *keys,
            _B,
            _TS_KEY,
            *[c for c in probe_cols if c not in keys],
            *[pay.getField(n).alias(n) for n in out_names],
        )
        m = d.select("*", *exprs)
        if gap_us is not None:
            m = m.withColumn(
                "__flag_in",
                F.when(
                    (F.col("__rn") > 1)
                    & ((F.col(_TS_KEY) - F.col("__pts")) > gap_us),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            )
        return m

    mid = probe_chain(mid_all)
    # carry-2 source: an explicit cheap re-window over the cached HOT rows
    # only (the entity-level filter keeps window groups complete) — a second
    # sorted pass over the cache instead of a checkpoint materialization, so
    # `mid` itself stays a single-consumer linear plan.
    mid_c = probe_chain(carry_src)

    # ---- carry 2 (tiny, broadcast): per-bucket stats + K-row tails ------
    agg_exprs = [
        F.min(F.col(_TS_KEY)).alias("__min_ts"),
        F.max(F.col(_TS_KEY)).alias("__max_ts"),
        # the bucket's total is its last row's running partial (peers at
        # the max ts share it); max() would be wrong for negative values
        *[
            F.max_by(f"__cum_{p}", F.col(_TS_KEY)).alias(f"__tot_{p}")
            for p in partials
        ],
        # the bucket's last NON-NULL fill value = the in-bucket ffill at the
        # bucket's last row (null iff the whole bucket is null). Tie-break
        # like the as-of payload carry: among rows sharing the bucket's max
        # ts the fill states can differ (a null-value row ordered before a
        # non-null one carries the OLD fill), and bare max_by picks an
        # arbitrary tie — max over (ts, fill) is deterministic and
        # consistent with the engine-chosen-tie contract (r3 advice).
        *[
            F.max_by(
                F.col(f"__ff_{c}"), F.struct(F.col(_TS_KEY), F.col(f"__ff_{c}"))
            ).alias(f"__ffb_{c}")
            for c in ffill_cols
        ],
    ]
    if gap_us is not None:
        agg_exprs.append(F.sum("__flag_in").alias("__fin"))
    if k_max:
        tail_struct = F.when(
            F.col("__rn") > F.col("__cnt") - k_max,
            F.struct(
                F.col(_TS_KEY).alias("__t"),
                *[F.col(c).alias(c) for c in lag_cols],
            ),
        )
        agg_exprs.append(
            F.array_sort(F.collect_list(tail_struct)).alias("__tail")
        )
    c2 = mid_c.groupBy(_SK, *keys, _B).agg(*agg_exprs)

    w_prev = (
        Window.partitionBy(_SK, *keys)
        .orderBy(F.col(_B))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_lag = Window.partitionBy(_SK, *keys).orderBy(F.col(_B))
    carry_cols = [_SK, *keys, _B]
    c2 = c2.withColumn("__prev_c", F.lag("__max_ts").over(w_lag))
    if gap_us is not None:
        first_flag = F.when(
            F.col("__prev_c").isNull()
            | ((F.col("__min_ts") - F.col("__prev_c")) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0))
        c2 = c2.withColumn("__btot", F.col("__fin") + first_flag)
        c2 = c2.withColumn(
            "__sess_off", F.coalesce(F.sum("__btot").over(w_prev), F.lit(0))
        )
        c2 = c2.withColumn("__first_flag", first_flag)
        carry_cols += ["__first_flag", "__sess_off"]
    for c in ffill_cols:
        # last non-null fill value over all STRICTLY EARLIER buckets
        c2 = c2.withColumn(
            f"__ffo_{c}", F.last(f"__ffb_{c}", ignorenulls=True).over(w_prev)
        )
        carry_cols.append(f"__ffo_{c}")
    for p in partials:
        c2 = c2.withColumn(f"__off_{p}", F.sum(f"__tot_{p}").over(w_prev))
        # an all-null addend bucket has a NULL in-bucket cum → NULL total;
        # its end-of-bucket cum is just the carried-in offset (sum skips nulls)
        c2 = c2.withColumn(
            f"__end_{p}",
            F.coalesce(F.col(f"__off_{p}"), F.lit(0))
            + F.coalesce(F.col(f"__tot_{p}"), F.lit(0)),
        )
        carry_cols.append(f"__off_{p}")
    if k_max:
        # last k_max rows over ALL earlier buckets: every indexed bucket is
        # non-empty, so they lie within the previous k_max buckets' tails
        tails = [
            F.coalesce(F.lag("__tail", j).over(w_lag), _empty_like(F.col("__tail")))
            for j in range(k_max, 0, -1)
        ]
        cat = F.concat(*tails) if len(tails) > 1 else tails[0]
        n = F.size(cat)
        c2 = c2.withColumn(
            "__prevk",
            F.when(n > k_max, F.slice(cat, n - k_max + 1, k_max)).otherwise(cat),
        )
        carry_cols.append("__prevk")
    # consumed by the carry2 broadcast AND the E2 start-offset table —
    # tiny (|bucketed entities × active buckets|); persisting avoids
    # re-running the carry window pass per consumer
    c2 = tracked_persist(c2)
    carry2 = c2.select(*carry_cols)

    out = mid.join(F.broadcast(carry2), on=[_SK, *keys, _B], how="left")

    # ffill finals: in-bucket fill, else the cross-bucket carry. Cold rows
    # never match carry2: __ffo is null and the in-bucket fill IS the
    # complete per-entity fill (single group).
    ffill_names = []
    for c in ffill_cols:
        name = c + ffill_suffix
        ffill_names.append(name)
        out = out.withColumn(
            name, F.coalesce(F.col(f"__ff_{c}"), F.col(f"__ffo_{c}"))
        )

    # lag finals: in-bucket lag when enough in-bucket history, else the
    # (k − rn + 1)-th element from the end of the cross-bucket tail.
    # Cold rows never match carry2: __prevk is null, the fallback is null —
    # correct, a single-group entity has no earlier bucket.
    lag_names = []
    for c in lag_cols:
        for k in lags:
            name = f"{c}_lag{k}"
            lag_names.append(name)
            if k_max:
                idx = F.size(F.col("__prevk")) - (F.lit(k) - F.col("__rn") + 1)
                fallback = F.get(F.col("__prevk"), idx).getField(c)
                out = out.withColumn(
                    name,
                    F.when(F.col("__rn") > k, F.col(f"__lg_{c}_{k}")).otherwise(
                        fallback
                    ),
                )
            else:
                out = out.withColumn(name, F.col(f"__lg_{c}_{k}"))

    # session ids: in-bucket flag cumsum + running earlier-bucket totals.
    # The no-carry defaults (first row opens a session, zero offset) are the
    # exact semantics for an entity with no earlier bucket — i.e. cold rows.
    if gap_us is not None:
        flag = F.when(
            F.col("__rn") == 1, F.coalesce(F.col("__first_flag"), F.lit(1))
        ).otherwise(F.col("__flag_in"))
        w_cum = w_rows.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = out.withColumn(
            session_col,
            (F.sum(flag).over(w_cum) + F.coalesce(F.col("__sess_off"), F.lit(0)))
            .cast("long"),
        )

    # stitched global prefix cums (peer-inclusive)
    for p in partials:
        out = out.withColumn(
            f"__st_{p}",
            F.coalesce(F.col(f"__cum_{p}"), F.lit(0))
            + F.coalesce(F.col(f"__off_{p}"), F.lit(0)),
        )

    keep = [
        *keys,
        *[c for c in probe_cols if c not in keys],
        *out_names,
        *ffill_names,
        *lag_names,
        *([session_col] if gap_us is not None else []),
    ]
    if not partials:
        return out.select(*keep)

    # ---- Exchange 2: cutoff resolution for the rolling prefix -----------
    # Byte discipline (r4): only the CUT rows (side 1) survive to the output,
    # so the state-role rows (side 0) need nothing but (_SK, keys, __key,
    # __pay) — every pass-through column (probe payload, as-of strings, lag/
    # session results, and the __st_ partials that side 0 already carries
    # inside __pay) is NULLED on side 0 before the exchange. UnsafeRow omits
    # variable-length data for null fields, so this roughly halves the
    # variable bytes the 2×-row explode pushes through the second shuffle —
    # the r3 protocol's residual 4→16 decay was memory bandwidth, and this
    # exchange moved the widest rows in the plan. _TS_KEY is dropped
    # entirely (its information lives on in __key).
    pay2 = F.struct(*[F.col(f"__st_{p}").alias(p) for p in partials])
    role = F.explode(
        F.array(
            F.struct(
                F.lit(0).alias("__side"),
                F.col(_TS_KEY).alias("__key"),
                pay2.alias("__pay"),
            ),
            F.struct(
                F.lit(1).alias("__side"),
                (F.col(_TS_KEY) - F.lit(win_us + 1)).alias("__key"),
                F.when(F.lit(False), pay2).alias("__pay"),
            ),
        )
    )
    passthrough = [c for c in keep if c not in keys] + [
        f"__st_{p}" for p in partials
    ]
    e = out.select(
        _SK,
        *keys,
        *passthrough,
        role.alias("__role"),
    )
    e = e.select("*", "__role.__side", "__role.__key", "__role.__pay").drop("__role")
    is_cut = F.col("__side") == 1
    e = e.select(
        _SK,
        *keys,
        "__side",
        "__key",
        "__pay",
        *[F.when(is_cut, F.col(c)).alias(c) for c in passthrough],
    )
    e = e.withColumn("__rb", bucket_of(F.col("__key")))
    w_res = (
        Window.partitionBy(_SK, *keys, "__rb")
        .orderBy(F.col("__key").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = e.withColumn("__base", F.last("__pay", ignorenulls=True).over(w_res))
    cut = resolved.where(F.col("__side") == 1)

    # start offsets: for a cutoff landing in a bucket with no earlier
    # feature row, the base is the stitched cum at the end of the last
    # feature bucket strictly BEFORE it — an as-of over the tiny bucket
    # axis. Hot-only: a cold cutoff shares its rows' single bucket, so a
    # missing base correctly falls back to zero.
    kh = (win_us + 1) // bucket_us
    ends = c2.select(
        _SK,
        *keys,
        F.col(_B).alias("__rb"),
        F.struct(*[F.col(f"__end_{p}").alias(p) for p in partials]).alias("__so"),
        F.lit(1).alias("__kind"),
    )
    so_type = ends.schema["__so"].dataType
    cand = (
        c2.select(
            _SK,
            *keys,
            F.explode(
                F.array(F.col(_B) - F.lit(kh), F.col(_B) - F.lit(kh + 1))
            ).alias("__rb"),
        )
        .distinct()
        .withColumn("__so", F.lit(None).cast(so_type))
        .withColumn("__kind", F.lit(0))
    )
    w_so = (
        Window.partitionBy(_SK, *keys)
        .orderBy(F.col("__rb").asc(), F.col("__kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    so = (
        ends.unionByName(cand)
        .withColumn("__so", F.last("__so", ignorenulls=True).over(w_so))
        .where(F.col("__kind") == 0)
        .select(_SK, *keys, "__rb", "__so")
    )
    cut = cut.join(F.broadcast(so), on=[_SK, *keys, "__rb"], how="left")
    base = F.coalesce(F.col("__base"), F.col("__so"))

    def minus(p: str) -> Column:
        return F.col(f"__st_{p}") - F.coalesce(base.getField(p), F.lit(0))

    return cut.select(*keep, *prefix_finals(rolling, rsuffix, minus))
