"""Time/epoch handling.

The reference infers the epoch unit of incoming timestamp columns by
magnitude (reference: src/polygon_ingest/ingest.py:171-176 and
legacy_scripts/factor_builder.py:40-44 — thresholds 1e11/1e14/1e17 for
s/ms/us/ns) and accepts ISO-8601 strings with coercion. Storage is
UTC-instant; the display wall clock is US/Eastern (ingest.py:68,268).
All of that compiles to built-in expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_to_timestamp(col: str) -> Column:
    """UTC timestamp from an epoch of unknown unit (s/ms/us/ns).

    Magnitude thresholds follow the reference exactly (ingest.py:171-176:
    strictly greater than 1e18 -> ns, 1e15 -> us, 1e12 -> ms, else s;
    note the reference misclassifies pre-2001 nanosecond epochs as
    microseconds — preserved for parity). Integer DIV keeps
    sub-microsecond truncation exact (no double round-trip).
    """
    return F.expr(
        f"""CASE
            WHEN CAST({col} AS BIGINT) > 1000000000000000000 THEN timestamp_micros(CAST({col} AS BIGINT) DIV 1000)
            WHEN CAST({col} AS BIGINT) > 1000000000000000 THEN timestamp_micros(CAST({col} AS BIGINT))
            WHEN CAST({col} AS BIGINT) > 1000000000000 THEN timestamp_millis(CAST({col} AS BIGINT))
            ELSE timestamp_seconds(CAST({col} AS BIGINT))
        END"""
    )


def eastern_wall_clock(ts: Column | str) -> Column:
    """US/Eastern wall-clock rendering of a UTC instant (ingest.py:268)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.from_utc_timestamp(c, "America/New_York")


def end_of_day(date_str: Column | str) -> Column:
    """Promote a date-only upper bound to end-of-day-inclusive
    (lake_io.py:175-178: 'YYYY-MM-DD' end means 23:59:59.999999)."""
    c = F.col(date_str) if isinstance(date_str, str) else date_str
    return F.to_timestamp(c) + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND")
