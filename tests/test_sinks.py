"""Upsert / insert-ignore sink semantics (SURVEY.md §2.1 S9/S10)."""

from __future__ import annotations

import os

import pytest

from vmware_sd_wan_velocloud_bi_intake_spark.sinks.upsert import (
    insert_ignore_parquet,
    upsert_parquet,
)


def _rows(spark, path):
    return {
        (r["k"], r["v"]) for r in spark.read.parquet(path).collect()
    }


def test_upsert_new_rows_win(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (None, "n")], "k int, v string")
    upsert_parquet(spark, df1, path, ["k"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c"), (None, "N")], "k int, v string")
    upsert_parquet(spark, df2, path, ["k"])
    # null keys never match: both null-key rows survive
    assert _rows(spark, path) == {
        (1, "a"), (2, "B"), (3, "c"), (None, "n"), (None, "N")
    }


def test_insert_ignore_old_rows_win(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (None, "n")], "k int, v string")
    insert_ignore_parquet(spark, df1, path, ["k"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c"), (None, "N")], "k int, v string")
    insert_ignore_parquet(spark, df2, path, ["k"])
    # null keys never match: both null-key rows survive
    assert _rows(spark, path) == {
        (1, "a"), (2, "b"), (3, "c"), (None, "n"), (None, "N")
    }


def test_warm_sinks_evaluate_their_batch_once(spark, tmp_path):
    """A warm call of either keyed sink computes each batch row once: one
    full-outer join of target and batch, not an anti-join plus a union
    that plans the batch twice. An accumulator in the batch's UDF counts
    the row evaluations."""
    from pyspark.sql import functions as F

    for sink in (upsert_parquet, insert_ignore_parquet):
        path = str(tmp_path / sink.__name__)
        old = spark.range(400).select(
            F.col("id").cast("int").alias("k"), F.lit("old").alias("v")
        )
        sink(spark, old, path, ["k"])
        acc = spark.sparkContext.accumulator(0)

        def counted(k, acc=acc):
            acc.add(1)
            return k

        batch = spark.range(350, 450).select(
            F.udf(counted, "int")(F.col("id")).alias("k"), F.lit("new").alias("v")
        )
        sink(spark, batch, path, ["k"])
        assert acc.value == 100, (sink.__name__, acc.value)
        want_overlap = "new" if sink is upsert_parquet else "old"
        assert _rows(spark, path) == (
            {(k, "old") for k in range(350)}
            | {(k, want_overlap) for k in range(350, 400)}
            | {(k, "new") for k in range(400, 450)}
        )


def test_batch_column_missing_from_table_raises(spark, tmp_path):
    """A batch column the stored table lacks fails loud, for either sink,
    and leaves the table as it was: it is never read back as nulls."""
    from pyspark.errors import AnalysisException

    for sink in (upsert_parquet, insert_ignore_parquet):
        path = str(tmp_path / sink.__name__)
        sink(spark, spark.createDataFrame([(1, "a")], "k int, v string"), path, ["k"])
        parts = sorted(os.listdir(path))
        wider = spark.createDataFrame([(2, "b", 0.5)], "k int, v string, w double")
        with pytest.raises((AnalysisException, ValueError)):
            sink(spark, wider, path, ["k"])
        assert sorted(os.listdir(path)) == parts
        assert _rows(spark, path) == {(1, "a")}


def test_upsert_dedups_batch_deterministically(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "z")], "k int, v string"
    )
    upsert_parquet(spark, df, path, ["k"])
    # survivor = greatest non-key tuple, stable under any partitioning
    assert _rows(spark, path) == {(1, "z")}


def test_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    upsert_parquet(spark, df, path, ["k"])
    before = _rows(spark, path)
    upsert_parquet(spark, df, path, ["k"])
    assert _rows(spark, path) == before


def test_csv_report_sink(spark, tmp_path):
    from vmware_sd_wan_velocloud_bi_intake_spark.sinks.upsert import write_csv_report

    df = spark.createDataFrame(
        [(1, "a,b", 2.5), (2, "plain", 0.0)], "id int, name string, v double"
    )
    out = tmp_path / "report"
    write_csv_report(df, str(out))
    back = spark.read.option("header", "true").csv(str(out))
    assert back.count() == 2
    assert set(back.columns) == {"id", "name", "v"}


def test_fleet_config_source(spark, tmp_path):
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.config import load_fleet

    cfg = tmp_path / "fleet.yml"
    cfg.write_text(
        "vco2:\n  link: https://vco2.example\n  partner: p2\n"
        "vco1:\n  link: https://vco1.example\n  partner: p1\n"
    )
    fleet = load_fleet(spark, str(cfg))
    rows = sorted((r["vco"], r["link"], r["partner"]) for r in fleet.collect())
    assert rows == [
        ("vco1", "https://vco1.example", "p1"),
        ("vco2", "https://vco2.example", "p2"),
    ]
