"""Temporal expressions (SURVEY.md §2.8 F7–F13).

The reference juggles four temporal encodings (ISO strings, epoch millis,
day-key strings, month-start strings — SURVEY.md §1.3); the engine keeps one
canonical ``TimestampType`` and derives the rest as expressions:

- F9 epoch-ms conversions (reference ``powerbi_main_fun.py:1700-1706``).
- F10 month-start truncation (reference ``powerbi_main_fun.py:886-887``).
- F11 day-key (reference ``powerbi_main_fun.py:1823``).
- F12 date diff in days (reference ``powerbi_main_fun.py:1117-1122``, ``:439``);
  its %%6 cadence is the creation-day term of
  ``streaming.incremental.staleness_filter``.
- F13 minutes-since recency predicate (reference ``powerbi_main_fun.py:412-416``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def day_key(ts: Column | str) -> Column:
    """Truncate a timestamp to its day, as DateType."""
    return F.date_trunc("day", _c(ts)).cast("date")


def month_key(ts: Column | str) -> Column:
    """Truncate a timestamp to its month start, as DateType."""
    return F.date_trunc("month", _c(ts)).cast("date")


def days_between(end: Column, start: Column) -> Column:
    """Whole-day difference end - start."""
    return F.datediff(end, start)


def epoch_ms_to_ts(col: Column | str) -> Column:
    """Epoch milliseconds → timestamp."""
    return F.timestamp_millis(_c(col).cast("long"))


def ts_to_epoch_ms(col: Column | str) -> Column:
    """Timestamp → epoch milliseconds."""
    return F.unix_millis(_c(col))


def within_minutes(ts: Column, asof: Column, minutes: int) -> Column:
    """True when ``ts`` is within the trailing ``minutes`` before ``asof``."""
    return ts > asof - F.expr(f"INTERVAL {int(minutes)} MINUTES")
