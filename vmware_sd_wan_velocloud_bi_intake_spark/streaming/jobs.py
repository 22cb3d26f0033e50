"""Structured Streaming jobs (SURVEY.md §2.9).

The reference's recurring batch is conceptually a stream with a coarse
trigger; these jobs express its two idempotency patterns natively:

- T4 event dedup → ``withWatermark`` + ``dropDuplicates`` on the unique key:
  exactly-once append semantics with bounded state (the watermark expires
  keys older than the reference's 15-day lookback).
- W4 tumbling scores → watermarked window aggregation, emitting per-hour
  means whose batch twin is ``operators.sequences.tumbling_min_score``.

Both run identically under ``Trigger.AvailableNow`` (the scheduled-batch
deployment the reference uses) or a continuous micro-batch trigger. State
stores shuffle on the dedup/window key — same partitioning story as batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_event_dedup(
    events: DataFrame,
    ts: str = "ts",
    keys: tuple[str, ...] = ("month", "user_id", "event_type"),
    watermark: str = "15 days",
) -> DataFrame:
    """Watermarked exactly-once event dedup on the reference's unique key.

    ``events`` is a streaming DataFrame with an event-time column ``ts``.
    """
    keyed = events.withWatermark(ts, watermark).withColumn(
        "month", F.date_trunc("month", F.col(ts)).cast("date")
    )
    return keyed.dropDuplicates(list(keys))


def streaming_hourly_scores(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    value: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-hour mean score per key (streaming W4/A12)."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), "1 hour").alias("win"), F.col(key))
        .agg(
            (
                F.sum(F.col(value).cast("decimal(18,2)")).cast("double")
                / F.count(value)
            ).alias("hour_score"),
            F.count("*").alias("n_samples"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            key,
            "hour_score",
            "n_samples",
        )
    )
