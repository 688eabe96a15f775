"""Hot-key membership predicate for the engine's hot/cold splits.

A per-entity SQL window serializes each key into one task: a key holding p%
of all rows caps scaling at 1/p regardless of cluster size (Amdahl), and
AQE's skew handling covers only joins — never window functions. Requirement:
BASELINE.json:6/14 "explicit salting for skewed doc_id/source keys … skew
handled explicitly"; the salting axis that applies to windowed operators is
TIME, not a random salt (a random salt would break ordering semantics).

The engine time-splits hot keys in ONE place: ``engine.plan.lower(
hot_keys=...)`` compiles matching pipelines to the fused chain
(``engine.fused``), whose bucket id is ``hot(entity) ? floor(ts/bucket) :
0`` — one split for the whole pipeline, not one per op. No window operator
takes ``hot_keys``. This module holds only the membership predicate that
split (and ``engine.skew.hot_broadcast_join``) is built on.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def hot_predicate(entity: str | Sequence[str], hot_keys: list) -> Column:
    """Null-safe membership predicate for the hot/cold split. ``hot_keys``
    holds scalar values for a single-column entity, tuples/Rows otherwise.
    An empty list is ``lit(False)``: nothing is hot.

    Single-column keys compile to ``isin`` (Catalyst In/InSet — O(1) set
    probe, push-down-able, and safe for the up-to-10k-key lists
    ``engine.skew.detect_hot_keys`` returns). The old left-nested
    eqNullSafe OR chain — kept only for composite keys, which stay small —
    built a ~10k-deep expression tree that risked analyzer stack overflow
    (round-1 advice).
    ``isin`` never matches NULL, so a NULL hot key is handled with an
    explicit isNull branch to preserve eqNullSafe semantics."""
    ents = _as_list(entity)
    if len(ents) == 1:
        vals = [hk[0] if isinstance(hk, (tuple, list)) else hk for hk in hot_keys]
        nonnull = [v for v in vals if v is not None]
        pred = F.col(ents[0]).isin(nonnull) if nonnull else F.lit(False)
        if len(nonnull) < len(vals):  # a NULL key was marked hot
            pred = pred | F.col(ents[0]).isNull()
        return pred
    conjs = [
        reduce(operator.and_, [F.col(k).eqNullSafe(F.lit(v)) for k, v in zip(ents, tuple(hk))])
        for hk in hot_keys
    ]
    return reduce(operator.or_, conjs) if conjs else F.lit(False)
