"""Timezone-independent timestamp arithmetic.

The driver testdata's ``events.ts`` physical type has changed across
rounds (TIMESTAMP(NANOS) → read as LONG, then TIMESTAMP(MICROS,
isAdjustedToUTC=false) → read as TIMESTAMP_NTZ). ``load_table``
normalizes every variant to TIMESTAMP_NTZ micros, and these helpers do
epoch arithmetic on NTZ values without ever routing through the session
time zone — ``unix_micros``/``CAST(ts AS LONG)`` reject NTZ outright,
and ``CAST(ntz AS TIMESTAMP)`` silently depends on
``spark.sql.session.timeZone``, which we don't control in the driver's
session. ``timestampdiff`` against an NTZ epoch literal is exact,
deterministic, and stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def epoch_us(c: Column | str) -> Column:
    """Microseconds since 1970-01-01 00:00:00 of an NTZ timestamp,
    interpreting the wall-clock value as UTC (same convention DuckDB's
    ``epoch_us`` applies to its naive TIMESTAMP type)."""
    return F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), _col(c))


def epoch_s(c: Column | str) -> Column:
    """Whole seconds since epoch of an NTZ timestamp (floor, like
    DuckDB ``epoch()``); tz-independent replacement for
    ``unix_timestamp`` whose NTZ overload routes through the session tz."""
    return F.timestamp_diff("SECOND", F.expr(_EPOCH_NTZ), _col(c))
