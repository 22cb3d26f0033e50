"""Structured Streaming jobs driven to completion over fixture parquet
(memory sink + processAllAvailable), plus incremental staleness gates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import (
    load_table,
    normalize_event_ts,
)
from vmware_sd_wan_velocloud_bi_intake_spark.streaming.incremental import (
    staleness_filter,
)
from vmware_sd_wan_velocloud_bi_intake_spark.streaming.jobs import (
    streaming_event_dedup,
    streaming_hourly_scores,
)


@pytest.fixture()
def events_stream(spark, sf_smoke, tmp_path):
    batch = load_table(spark, sf_smoke, "events")
    # the file-stream source requires a directory: symlink the fixture file in
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{sf_smoke}/events.parquet")
    # ts arrives as nanos-long / TIMESTAMP / TIMESTAMP_NTZ depending on the
    # fixture generation — normalize exactly like the batch loader does.
    # ORDER MATTERS: the load_table call above already hardened the parquet
    # confs (nanosAsLong, inferTimestampNTZ) as a side effect; this bare
    # schema read would throw on TIMESTAMP(NANOS) fixtures without it.
    raw_schema = spark.read.parquet(f"{sf_smoke}/events.parquet").schema
    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(str(stream_dir))
    )
    return batch, stream


def _run_to_memory(stream_df, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_streaming_dedup_matches_batch(spark, events_stream):
    batch, stream = events_stream
    _run_to_memory(streaming_event_dedup(stream), "dedup_out")
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0]["n"]
    expected = (
        batch.select(
            F.date_trunc("month", "ts").alias("m"), "user_id", "event_type"
        )
        .distinct()
        .count()
    )
    assert got == expected


def test_streaming_hourly_scores_match_batch(spark, events_stream):
    batch, stream = events_stream
    # append mode only emits watermark-closed windows; with availableNow over
    # a finite file the final window stays open, so compare on the closed set
    _run_to_memory(streaming_hourly_scores(stream), "hourly_out")
    got = spark.sql("SELECT hour_start, user_id, hour_score, n_samples FROM hourly_out")
    batch_hourly = (
        batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), F.col("user_id")
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
            ).alias("hour_score"),
            F.count("*").alias("n_samples"),
        )
    )
    joined = got.join(
        batch_hourly, ["hour_start", "user_id"], "inner"
    ).filter(
        (got["hour_score"] != batch_hourly["hour_score"])
        | (got["n_samples"] != batch_hourly["n_samples"])
    )
    assert got.count() > 0
    assert joined.count() == 0


def test_staleness_filter_gates_rows(spark):
    batch = spark.createDataFrame(
        [("e1", "2024-01-01"), ("e2", "2024-01-02"), ("e3", "2024-01-03")],
        "edge_uuid string, created string",
    )
    state = spark.createDataFrame(
        [
            ("e1", "2024-03-01 00:00:00"),  # fresh → gated out
            ("e2", "2024-01-05 00:00:00"),  # stale → kept
        ],
        "edge_uuid string, last_updated string",
    ).withColumn("last_updated", F.to_timestamp("last_updated"))
    asof = F.to_timestamp(F.lit("2024-03-02 00:00:00"))
    due = staleness_filter(
        batch, state, "edge_uuid", asof=asof, max_age_days=8, cadence_days=None
    )
    got = {r["edge_uuid"] for r in due.collect()}
    # e3 missing from state → due; e2 stale → due; e1 fresh → not due
    assert got == {"e2", "e3"}


def test_staleness_cadence_rule(spark):
    batch = spark.createDataFrame(
        [("e1", "2024-02-25")], "edge_uuid string, created string"
    )
    state = spark.createDataFrame(
        [("e1", "2024-03-01 12:00:00")], "edge_uuid string, last_updated string"
    ).withColumn("last_updated", F.to_timestamp("last_updated"))
    # age 6 days exactly → cadence fires even though state is fresh
    asof = F.to_timestamp(F.lit("2024-03-02 00:00:00"))
    due = staleness_filter(
        batch, state, "edge_uuid", created="created", asof=asof,
        max_age_days=8, cadence_days=6,
    )
    assert {r["edge_uuid"] for r in due.collect()} == {"e1"}
