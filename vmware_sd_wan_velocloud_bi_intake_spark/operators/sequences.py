"""Sequence / window analytics (SURVEY.md §2.5 W1–W4).

The reference's most algorithmically interesting code is its QoE time-series
loops: brownout/blackout transition detection (``powerbi_main_fun.py:1709-1775``),
run-length extension of degraded states, and tumbling-hour minimum scores
(``powerbi_main_fun.py:1778-1804``). Those imperative loops are re-derived here
as their mathematical specs over ordered partitions:

- islands            := gaps-and-islands (difference of two row_numbers),
  each with its run length and predecessor state (lag)
- transition events  := islands of ``target`` state whose predecessor is
  ``from``
- tumbling windows   := ``date_trunc`` grouping

The 30-day idempotent daily backfill (W5, ``powerbi_main_fun.py:1890-1921``)
is the ``w05_backfill_missing`` catalog query (``queries/events.py``).

Scale notes: every operator here is a single shuffle on the partition key
(entity id) followed by in-partition window evaluation — the natural layout
for per-entity time-series at 100 TB. No Python UDFs; everything stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# QoE quality-state codes from the reference (powerbi_main_fun.py:1813-1846):
# 0=black, 2=red, 3=yellow, 4=green.
STATE_BLACK, STATE_RED, STATE_YELLOW, STATE_GREEN = 0, 2, 3, 4


def discretize_state(value: Column, thresholds=(50.0, 100.0, 150.0)) -> Column:
    """Map a continuous metric onto the reference's QoE state codes.

    value < t0 → 0 (black), < t1 → 2 (red), < t2 → 3 (yellow), else 4 (green).
    """
    return (
        F.when(value < thresholds[0], F.lit(STATE_BLACK))
        .when(value < thresholds[1], F.lit(STATE_RED))
        .when(value < thresholds[2], F.lit(STATE_YELLOW))
        .otherwise(F.lit(STATE_GREEN))
    )


def with_prev_state(
    df: DataFrame, key: str, order: list[str], state: str = "state"
) -> DataFrame:
    """Attach ``prev_state`` via lag over (partition by key, ordered)."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("prev_state", F.lag(F.col(state)).over(w))


def island_table(
    df: DataFrame,
    key: str,
    order: list[str],
    state: str = "state",
) -> DataFrame:
    """One row per (key, island): state, run_len, and the state immediately
    before the island started (``island_prev``, NULL for the first island).

    The predecessor state is what the reference's loop semantics hinge on:
    a brownout is a red island whose predecessor is green
    (CalculateBrownouts, powerbi_main_fun.py:1709-1741 — Brownout++ on
    qoe[i]==4 ∧ qoe[i+1]==2, Timer += the consecutive-2 run from i+1), and a
    blackout is a black island whose predecessor is any non-black state
    (CalculateBlackouts called with start states 3, 2, 4 and summed,
    :1855-1879).
    """
    staged = with_prev_state(df, key, order, state)
    w_all = Window.partitionBy(key).orderBy(*order)
    w_state = Window.partitionBy(key, state).orderBy(*order)
    islands = staged.withColumn(
        "island_id", F.row_number().over(w_all) - F.row_number().over(w_state)
    )
    s, p = F.col(state), F.col("prev_state")
    return islands.groupBy(key, state, "island_id").agg(
        F.count("*").alias("run_len"),
        # only the island's first row has prev != state (or NULL prev)
        F.max(F.when(p.isNull() | (p != s), p)).alias("island_prev"),
        F.min(F.when(p.isNull(), 1).otherwise(0)).alias("__starts_sequence"),
    )


def qoe_outage_summary(
    df: DataFrame,
    key: str,
    order: list[str],
    state: str = "state",
) -> DataFrame:
    """Per-key brownout/blackout counts and durations — the reference's QoE
    loop semantics (W1+W2+W3) as one islands pass.

    - brownouts          := # islands(state=2, island_prev=4)
    - brownout_samples   := Σ run_len over those islands
    - blackouts          := # islands(state=0, island_prev ∈ {2,3,4})
    - blackout_samples   := Σ run_len over those islands
    - *_minutes          := samples × 7.12 (exact: n·712/60 as one division;
      the reference rounds to 3 and coerces 0.0→0, powerbi_main_fun.py:1875-1882)

    No caller yet: the catalog's events query fuses the same islands pass
    with its other aggregates; this is the reference's QoE loop on its own.
    """
    islands = island_table(df, key, order, state)
    is_brown = (F.col(state) == STATE_RED) & (F.col("island_prev") == STATE_GREEN)
    is_black = (F.col(state) == STATE_BLACK) & F.col("island_prev").isNotNull() & (
        F.col("island_prev") != STATE_BLACK
    )
    out = islands.groupBy(key).agg(
        F.sum(F.when(is_brown, 1).otherwise(0)).cast("long").alias("brownouts"),
        F.sum(F.when(is_brown, F.col("run_len")).otherwise(0))
        .cast("long")
        .alias("brownout_samples"),
        F.sum(F.when(is_black, 1).otherwise(0)).cast("long").alias("blackouts"),
        F.sum(F.when(is_black, F.col("run_len")).otherwise(0))
        .cast("long")
        .alias("blackout_samples"),
    )
    return out.select(
        key,
        "brownouts",
        "brownout_samples",
        (F.col("brownout_samples") * F.lit(712)).cast("double").alias("__bm"),
        "blackouts",
        "blackout_samples",
        (F.col("blackout_samples") * F.lit(712)).cast("double").alias("__bk"),
    ).select(
        key,
        "brownouts",
        "brownout_samples",
        (F.col("__bm") / F.lit(6000.0)).alias("brownout_minutes"),
        "blackouts",
        "blackout_samples",
        (F.col("__bk") / F.lit(6000.0)).alias("blackout_minutes"),
    )


def tumbling_min_score(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    day_alias: str = "day",
) -> DataFrame:
    """Per (key, day): minimum hourly mean of ``value`` (W4 / A12).

    Mirrors the reference's lowest_qoe (powerbi_main_fun.py:1778-1804): chunk
    a day into tumbling windows, score each, keep the day's minimum. Hourly
    means use exact decimal sums divided as double so the result is
    partitioning-independent.
    """
    hour = F.date_trunc("hour", F.col(ts))
    day = F.date_trunc("day", F.col(ts)).cast("date")
    hourly = (
        df.groupBy(F.col(key).alias(key), day.alias(day_alias), hour.alias("hour"))
        .agg(
            (
                F.sum(F.col(value).cast("decimal(18,2)")).cast("double")
                / F.count(value)
            ).alias("hour_score")
        )
    )
    return hourly.groupBy(key, day_alias).agg(
        F.min("hour_score").alias("min_hour_score"),
        F.count("*").alias("n_hours"),
    )

