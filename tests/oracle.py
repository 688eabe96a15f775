"""Single-process pandas/numpy reference implementations (SURVEY.md §5.1).

These ARE the "reference implementation output" that BASELINE.json:6 requires
np.allclose against (the reference repo itself ships no executable — SURVEY.md
§0); recorded as such.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def oracle_asof(
    probes: pd.DataFrame,
    state: pd.DataFrame,
    key: str,
    probe_ts: str,
    state_ts: str,
    values: list[str],
    strict: bool = False,
    suffix: str = "",
) -> pd.DataFrame:
    l = probes.sort_values(probe_ts, kind="mergesort").reset_index(drop=True)
    r = (
        state[[key, state_ts] + values]
        .rename(columns={state_ts: "__ots", **{v: v + suffix for v in values}})
        .sort_values("__ots", kind="mergesort")
        .reset_index(drop=True)
    )
    out = pd.merge_asof(
        l, r, left_on=probe_ts, right_on="__ots", by=key,
        direction="backward", allow_exact_matches=not strict,
    )
    return out.drop(columns="__ots")


def oracle_ffill(df: pd.DataFrame, key: str, ts: str, col: str) -> pd.Series:
    df = df.sort_values([key, ts], kind="mergesort")
    return df.groupby(key)[col].ffill()


def oracle_sessionize(df: pd.DataFrame, key: str, ts: str, gap_s: float) -> pd.Series:
    df = df.sort_values([key, ts], kind="mergesort")
    gaps = df.groupby(key)[ts].diff().dt.total_seconds()
    new = (gaps.isna() | (gaps > gap_s)).astype("int64")
    return new.groupby(df[key]).cumsum()


def oracle_rolling(
    df: pd.DataFrame, key: str, ts: str, col: str, window_s: float, fn: str
) -> pd.Series:
    """Trailing [t-W, t] inclusive-both-ends aggregate per key."""
    df = df.sort_values([key, ts], kind="mergesort")
    win = pd.Timedelta(seconds=window_s)

    def per_group(g: pd.DataFrame) -> pd.Series:
        t = g[ts].values
        v = g[col].values
        out = np.empty(len(g), dtype=float)
        for i in range(len(g)):
            mask = (t >= t[i] - win.to_timedelta64()) & (t <= t[i])
            vals = v[mask]
            ok = ~pd.isna(vals)
            if fn == "count":
                out[i] = ok.sum()
            elif fn == "sum":
                out[i] = np.nansum(vals) if ok.any() else np.nan
            elif fn == "avg":
                out[i] = np.nanmean(vals) if ok.any() else np.nan
        return pd.Series(out, index=g.index)

    return df.groupby(key, group_keys=False)[[ts, col]].apply(per_group)


def sorted_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical ordering for order-insensitive comparison."""
    cols = sorted(pdf.columns)
    return (
        pdf[cols]
        .sort_values(cols, kind="mergesort", na_position="last")
        .reset_index(drop=True)
    )


def assert_frames_allclose(a: pd.DataFrame, b: pd.DataFrame, rtol=1e-9, atol=1e-9):
    a, b = sorted_frame(a), sorted_frame(b)
    assert list(a.columns) == list(b.columns), (a.columns, b.columns)
    assert len(a) == len(b), (len(a), len(b))
    for c in a.columns:
        av, bv = a[c], b[c]
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(float).values
            bv = bv.astype(float).values
            assert np.allclose(av, bv, rtol=rtol, atol=atol, equal_nan=True), c
        else:
            an, bn = av.isna(), bv.isna()
            assert (an == bn).all(), c
            assert (av[~an].values == bv[~bn].values).all(), c
