"""Parts-table compaction (sinks/compact.py): a compaction that fails
before or during its swap leaves the original parts table intact."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.sinks import compact


def _parts_table(spark, path, n_rows):
    """A ``_batch_id``-keyed table with four committed partitions."""
    spark.range(n_rows).withColumn(
        "_batch_id", F.pmod("id", F.lit(4)).cast("int")
    ).write.partitionBy("_batch_id").parquet(path)


def test_compaction_failure_leaves_original_intact(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "keep")
    _parts_table(spark, path, 1000)
    before = sorted(os.listdir(path))

    def boom(*a, **k):
        raise RuntimeError("simulated write failure")

    # break the staged write: the original dataset must be untouched
    import pyspark.sql.readwriter as rw

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        compact.compact_rows_parts(spark, path, 4)
    assert sorted(os.listdir(path)) == before
    assert spark.read.parquet(path).count() == 1000


def test_swap_failure_restores_original(spark, tmp_path, monkeypatch):
    """If the rename-in fails mid-swap, the original dataset is restored —
    at no instant is there fewer than one complete copy on disk."""
    path = str(tmp_path / "swap")
    _parts_table(spark, path, 500)
    before = sorted(os.listdir(path))

    real_replace = os.replace
    calls = {"n": 0}

    def fail_second(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # first call renames original aside; second
            raise OSError("simulated EBUSY on rename-in")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", fail_second)
    with pytest.raises(OSError, match="EBUSY"):
        compact.compact_rows_parts(spark, path, 4)
    monkeypatch.setattr(os, "replace", real_replace)
    assert sorted(os.listdir(path)) == before
    assert spark.read.parquet(path).count() == 500
