"""Incremental-batch semantics (SURVEY.md §2.9 T1–T5).

The reference is a recurring incremental batch: per-entity staleness gates
(``fun_mysql_query.py:17-77``), idempotent day-key backfill, probabilistic
work shedding. Set-oriented restatements, all single-shuffle:

- staleness gate  = join batch ⨝ state snapshot, filter on lastUpdated age /
  creation-day cadence / force flag. The state snapshot replaces N point
  queries with one broadcast (small) or shuffle (large) join.
- backfill        = the ``w05_backfill_missing`` catalog query (expected-key
  grid anti-join, ``queries/events.py``).
- work shedding   = deterministic hash-bucket filter (stable across runs,
  unlike the reference's ``random()`` — see O4 in the catalog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def staleness_filter(
    batch: DataFrame,
    state: DataFrame,
    key: str,
    last_updated: str = "last_updated",
    created: str | None = None,
    asof: Column | None = None,
    max_age_days: int = 8,
    cadence_days: int | None = 6,
    force: bool = False,
) -> DataFrame:
    """Keep batch rows due for reprocessing (T1/T2 + the %%-cadence rule).

    A row passes when it has no state entry, its state is older than
    ``max_age_days``, or (created-date cadence) ``(asof - created) %
    cadence_days == 0`` — the reference's 8-day gate + 6th-day refresh
    (``fun_mysql_query.py:40-60``, ``powerbi_main_fun.py:436-445``).
    """
    if force:
        return batch
    asof = asof if asof is not None else F.current_timestamp()
    st = state.select(
        F.col(key).alias("__k"), F.col(last_updated).alias("__last_updated")
    )
    joined = batch.join(st, batch[key] == st["__k"], "left")
    due = joined["__last_updated"].isNull() | (
        joined["__last_updated"] < asof - F.expr(f"INTERVAL {int(max_age_days)} DAYS")
    )
    if created is not None and cadence_days:
        due = due | (
            F.pmod(F.datediff(asof.cast("date"), F.col(created).cast("date")),
                   F.lit(int(cadence_days))) == 0
        )
    return joined.filter(due).drop("__k", "__last_updated")
