"""Timestamp utilities.

Spark 4.1 loads the driver testdata ``ts`` columns as TIMESTAMP_NTZ, on which a
direct ``cast('long')`` raises DATATYPE_MISMATCH (verified, SURVEY.md §0.1).
Every piece of gap/range arithmetic in the engine goes through ``epoch_micros``
so the cast rule lives in exactly one place.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def epoch_micros(c: Column | str) -> Column:
    """Microseconds since epoch as LONG (full TIMESTAMP precision), safe for
    both TIMESTAMP and TIMESTAMP_NTZ.

    ``cast('long')`` truncates to seconds; sub-second event times (the driver
    testdata has microsecond precision) need this for correct ordering math.
    TIMESTAMP_NTZ has no zone; casting through TIMESTAMP interprets it in the
    session zone (tests pin ``spark.sql.session.timeZone=UTC`` so this is the
    naive wall-clock reading, matching the pandas/DuckDB oracles).
    """
    return F.unix_micros(_as_col(c).cast("timestamp"))

