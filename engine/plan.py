"""FeaturePlan — the engine's declarative IR (SURVEY.md §3.1/§3.3).

A ``FeaturePlan`` is a serializable list of step records over named table
refs: pure metadata, no Spark objects. It is the first IR in the query
lifecycle (plan → lowering → Catalyst logical plan → AQE physical plan)
and doubles as the lineage payload the checkpoint journal records
(SURVEY.md §1.3: ``lineage:{inputs, code_version, params}``) — a resumed
job can prove *what* pipeline produced a committed partition.

``lower()`` composes the §2 operators; ``FeatureEngine`` is the thin
fluent facade (§3.3) over the same plan+lower path, so notebooks, tests,
and the production job share one lowering and one set of semantics.

Requirement source: upstream DFS lineage (Kanter & Veeramachaneni 2015)
separates feature *enumeration* from *execution*; BASELINE.json:6 requires
lineage metadata on every checkpoint commit. The reference repo is empty
at v0 (/root/reference/README.md:1).
"""

from __future__ import annotations

import json
import logging
from dataclasses import asdict, dataclass, field
from typing import Any, Mapping

from pyspark.sql import DataFrame

from engine.asof import asof_join
from engine.transforms.row import apply_row_features
from engine.transforms.table import agg_features
from engine.window_ops import (
    backward_fill,
    cumulative_stats,
    forward_fill,
    lag_features,
    rolling_aggregates,
    sessionize,
)

CODE_VERSION = "afg-spark-0.2"

_log = logging.getLogger(__name__)


@dataclass(frozen=True)
class Step:
    """One pipeline step: ``op`` names the §2 operator, ``params`` its
    JSON-serializable arguments. Table-valued params (as-of state side)
    are named refs resolved against the ``tables`` mapping at lowering."""

    op: str
    params: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class FeaturePlan:
    """Declarative pipeline over an entity/event-time keyed table."""

    entity: str
    ts: str
    steps: tuple[Step, ...] = ()

    def add(self, op: str, **params: Any) -> "FeaturePlan":
        return FeaturePlan(self.entity, self.ts, self.steps + (Step(op, params),))

    # ---- lineage serialization ----
    def to_dict(self) -> dict:
        return {
            "code_version": CODE_VERSION,
            "entity": self.entity,
            "ts": self.ts,
            "steps": [asdict(s) for s in self.steps],
        }

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), sort_keys=True)

    @staticmethod
    def from_dict(d: Mapping[str, Any]) -> "FeaturePlan":
        return FeaturePlan(
            entity=d["entity"],
            ts=d["ts"],
            steps=tuple(Step(s["op"], dict(s["params"])) for s in d["steps"]),
        )


_LOWERERS = {}


def _lowerer(op: str):
    def deco(fn):
        _LOWERERS[op] = fn
        return fn

    return deco


@_lowerer("asof")
def _lower_asof(df, plan, p, tables):
    state = tables[p["state"]]
    return asof_join(
        df, state, on=plan.entity, probe_ts=plan.ts,
        state_ts=p.get("state_ts", "ts"), values=p.get("values"),
        strict=p.get("strict", False), strategy=p.get("strategy", "union"),
        suffix=p.get("suffix", ""), bucket=p.get("bucket", "1 day"),
    )


@_lowerer("lag")
def _lower_lag(df, plan, p, tables):
    return lag_features(
        df, plan.entity, plan.ts, p["cols"],
        lags=p.get("lags", [1]), leads=p.get("leads", []),
    )


@_lowerer("ffill")
def _lower_ffill(df, plan, p, tables):
    return forward_fill(df, plan.entity, plan.ts, p["cols"], out_suffix=p.get("out_suffix", "_f"))


@_lowerer("bfill")
def _lower_bfill(df, plan, p, tables):
    return backward_fill(df, plan.entity, plan.ts, p["cols"], out_suffix=p.get("out_suffix", "_b"))


@_lowerer("sessionize")
def _lower_sessionize(df, plan, p, tables):
    return sessionize(df, plan.entity, plan.ts, gap=p.get("gap", "30 minutes"))


@_lowerer("rolling")
def _lower_rolling(df, plan, p, tables):
    return rolling_aggregates(
        df, plan.entity, plan.ts, p["aggs"], window=p["window"],
        method=p.get("method", "frame"),
    )


@_lowerer("cumulative")
def _lower_cumulative(df, plan, p, tables):
    return cumulative_stats(df, plan.entity, plan.ts, p["aggs"])


@_lowerer("row_features")
def _lower_row_features(df, plan, p, tables):
    return apply_row_features(df, [tuple(s) for s in p["specs"]])


@_lowerer("agg_features")
def _lower_agg_features(df, plan, p, tables):
    return agg_features(df, p.get("key", plan.entity), p["aggs"])


# ops whose plain lowering serializes a hot entity into one window task
_PER_ENTITY_OPS = {"asof", "lag", "ffill", "sessionize", "rolling", "cumulative"}

# ---- whole-pipeline fusion (engine.fused) ---------------------------------
_FUSE_ORDER = {"asof": 0, "lag": 1, "sessionize": 2, "rolling": 3}
_FUSE_DECOMP = {"count", "sum", "avg", "mean", "stddev"}


def _fused_split(plan: "FeaturePlan"):
    """``(n_fused, kwargs)`` when the plan's leading window steps form the
    asof → lag? → sessionize? → rolling? pattern ``fused_feature_chain``
    compiles to two wide exchanges, and NO per-entity step follows them —
    else ``None`` (``lower`` then ignores its hot keys and lowers plainly).

    Disqualifiers: ``lag`` with leads (the fused carry tails are
    backward-only), non-decomposable rolling aggs (min/max need the frame
    method), any trailing window-family step (it would reintroduce the
    per-entity skew the fusion just removed), a second ``ffill`` step, or
    lag/rolling reading an ffill OUTPUT column (the fused assembly computes
    fills after the in-bucket lag/cum expressions). The asof step's
    ``strategy`` param is a physical choice and is ignored — the fused plan
    IS the physical strategy. ``ffill`` is order-neutral: it fills
    independent columns, so it may sit anywhere after the asof step."""
    run, last, have_ffill = 0, -1, False
    for s in plan.steps:
        if s.op == "ffill" and run > 0 and not have_ffill:
            have_ffill = True
            run += 1
            continue
        o = _FUSE_ORDER.get(s.op)
        if o is None or o <= last:
            break
        last = o
        run += 1
    if run == 0 or plan.steps[0].op != "asof":
        return None
    if any(s.op in _PER_ENTITY_OPS for s in plan.steps[run:]):
        return None
    kw: dict[str, Any] = {}
    for s in plan.steps[:run]:
        p = s.params
        if s.op == "ffill":
            kw.update(
                ffill_cols=list(p["cols"]),
                ffill_suffix=p.get("out_suffix", "_f"),
            )
        elif s.op == "asof":
            kw.update(
                state_name=p["state"], state_ts=p.get("state_ts", "ts"),
                values=p.get("values"), suffix=p.get("suffix", ""),
                strict=p.get("strict", False),
            )
        elif s.op == "lag":
            if p.get("leads"):
                return None
            kw.update(lag_cols=list(p["cols"]), lags=list(p.get("lags", [1])))
        elif s.op == "sessionize":
            kw.update(session_gap=p.get("gap", "30 minutes"))
        elif s.op == "rolling":
            aggs = p["aggs"]
            if not all(n in _FUSE_DECOMP for ns in aggs.values() for n in ns):
                return None
            kw.update(rolling=aggs, rolling_window=p["window"])
    if have_ffill:
        ff_out = {
            c + kw["ffill_suffix"] for c in kw["ffill_cols"]
        }
        if ff_out & (set(kw.get("lag_cols", [])) | set(kw.get("rolling", {}))):
            return None
    return run, kw


def lower(
    probes: DataFrame,
    plan: FeaturePlan,
    tables: Mapping[str, DataFrame] | None = None,
    hot_keys: list | None = None,
    bucket: str | int | float = "1 day",
) -> DataFrame:
    """FeaturePlan → DataFrame by composing §2 operators in step order.

    All window-family steps share ``partitionBy(entity)``, so Catalyst
    plans ONE shuffle for the whole chain (verified: the flagship 5-step
    plan compiles to a single Exchange).

    ``hot_keys`` (e.g. from ``engine.skew.straggler_hot_keys``): when the
    plan's leading window steps match :func:`_fused_split`, they compile
    to the whole-pipeline fused chain (``engine.fused`` — TWO wide
    exchanges, hot keys time-split by ``bucket`` inside them) and the
    remaining steps lower plainly on its output. Any other plan lowers
    plainly: same results, but its hot keys are not skew-proofed — the
    lowering logs a warning saying so.
    """
    tables = tables or {}
    df, rest = probes, plan.steps
    if hot_keys:
        fused = _fused_split(plan)
        if fused is None:
            _log.warning(
                "plan %s does not fuse; its %d hot_keys are ignored and it "
                "lowers plainly (hot entities run as serial window tasks)",
                [s.op for s in plan.steps], len(hot_keys),
            )
        else:
            from engine.fused import fused_feature_chain

            n_fused, kw = fused
            state = tables[kw.pop("state_name")]
            df = fused_feature_chain(
                probes, state, on=plan.entity, probe_ts=plan.ts,
                bucket=bucket, hot_keys=list(hot_keys), **kw,
            )
            rest = plan.steps[n_fused:]
    for step in rest:
        try:
            fn = _LOWERERS[step.op]
        except KeyError:
            raise ValueError(f"unknown plan op: {step.op!r}") from None
        df = fn(df, plan, step.params, tables)
    return df


class FeatureEngine:
    """Fluent facade (SURVEY.md §3.3): chaining builds the SAME FeaturePlan
    the job runner serializes; ``to_df()`` triggers the one lowering path."""

    def __init__(self, probes: DataFrame, entity: str, ts: str):
        self._probes = probes
        self._tables: dict[str, DataFrame] = {}
        self.plan = FeaturePlan(entity=entity, ts=ts)

    def _step(self, op: str, **params) -> "FeatureEngine":
        self.plan = self.plan.add(op, **params)
        return self

    def asof(self, state: DataFrame, name: str = "state", **kw) -> "FeatureEngine":
        self._tables[name] = state
        return self._step("asof", state=name, **kw)

    def lag(self, cols, lags=(1,), leads=()) -> "FeatureEngine":
        return self._step("lag", cols=list(cols), lags=list(lags), leads=list(leads))

    def ffill(self, cols, out_suffix="_f") -> "FeatureEngine":
        return self._step("ffill", cols=list(cols), out_suffix=out_suffix)

    def bfill(self, cols, out_suffix="_b") -> "FeatureEngine":
        return self._step("bfill", cols=list(cols), out_suffix=out_suffix)

    def sessionize(self, gap="30 minutes") -> "FeatureEngine":
        return self._step("sessionize", gap=gap)

    def rolling(self, aggs, window, method="frame") -> "FeatureEngine":
        return self._step("rolling", aggs=aggs, window=window, method=method)

    def cumulative(self, aggs) -> "FeatureEngine":
        return self._step("cumulative", aggs=aggs)

    def agg_features(self, aggs, key=None) -> "FeatureEngine":
        """Aggregate step; ``key`` defaults to the entity."""
        return self._step("agg_features", aggs=aggs, **({"key": key} if key else {}))

    def row_features(self, specs) -> "FeatureEngine":
        return self._step("row_features", specs=[list(s) for s in specs])

    def to_df(
        self,
        hot_keys: list | None = None,
        bucket: str | int | float = "1 day",
    ) -> DataFrame:
        return lower(
            self._probes, self.plan, self._tables,
            hot_keys=hot_keys, bucket=bucket,
        )
