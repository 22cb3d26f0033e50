"""Idempotent key-based sinks (SURVEY.md §2.1 S9–S13).

The reference writes one MySQL statement per value with ``INSERT … ON
DUPLICATE KEY UPDATE`` / ``INSERT IGNORE`` (``fun_mysql_inserts.py:16-374``).
Set-oriented equivalents:

- **upsert**        = new batch wins per PK
                      (``MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT``).
- **insert-ignore** = old wins per PK, new PKs appended.
- **CSV report**    = ``df.write.csv`` (reference S12 ``/tmp/*.csv`` dumps).

Harness storage is parquet (TESTDATA.md); on a warehouse stack the same
functions target Delta ``MERGE INTO`` or a JDBC ``foreachBatch`` upsert — the
batch-building logic (dedup by PK, deterministic survivor choice) is
identical, only the final writer changes.

Scale notes: both keyed sinks are one full-outer join of old and new on
the PK that keeps the winning side per row, so each side is read once and
shuffled once on the PK. Writing is
overwrite-into-staging + atomic swap so a failed job never leaves a
half-written table; re-running the same batch is a no-op by construction
(the reference achieves the same via per-row upsert idempotency).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _dedup_by_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keep exactly one row per PK, deterministically (greatest non-key tuple).

    ``dropDuplicates`` keeps an arbitrary row under parallelism; a window
    ordered by the remaining columns makes the survivor stable across runs
    and cluster layouts.
    """
    non_keys = [c for c in df.columns if c not in keys]
    if not non_keys:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in non_keys])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _merge_by_keys(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    batch_wins: bool,
) -> None:
    """The one body of both keyed sinks: ONE full-outer join of the target
    and the PK-deduped batch on the keys, then per row the winning side's
    values — the batch side when ``batch_wins`` (upsert), else the target
    side (insert-ignore). Each input is read once; an anti-join plus union
    would read the batch (upsert) or the target (insert-ignore) twice.

    Null keys never match (SQL ``=``), so a null-key row from either side
    survives on its own — the anti-join's behaviour.
    """
    batch = _dedup_by_keys(df, keys)
    if os.path.exists(path):
        # the batch's schema spares a schema-inference job; a batch column
        # the table lacks must still fail loud, not read back as nulls
        missing = set(batch.columns) - set(footer_schema(path).names)
        if missing:
            raise ValueError(f"{path} lacks the batch's columns {sorted(missing)}")
        t = spark.read.schema(batch.schema).parquet(path)
        t = t.withColumn("__t", F.lit(True)).alias("t")
        b = batch.withColumn("__b", F.lit(True)).alias("b")
        on = [F.col(f"t.{k}") == F.col(f"b.{k}") for k in keys]
        take_b = F.col("b.__b").isNotNull() if batch_wins else F.col("t.__t").isNull()
        # the batch's column order, so repeated calls write byte-identical
        # table schemas
        merged = t.join(b, on, "full_outer").select(
            *[
                F.when(take_b, F.col(f"b.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                for c in batch.columns
            ]
        )
    else:
        merged = batch
    _atomic_overwrite(spark, merged, path)


def footer_schema(path: str):
    """The pyarrow schema of one part file of the parquet table at ``path``
    (the first in sorted order, in a partition directory if the table is
    partitioned), read on the driver from its footer: no Spark job."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs.sort()
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts:
            return pq.read_schema(os.path.join(root, parts[0]))
    raise ValueError(f"{path} holds no parquet part file")


def upsert_parquet(
    spark: SparkSession, df: DataFrame, path: str, keys: Sequence[str]
) -> None:
    """MERGE semantics onto a parquet table: incoming rows win per PK (S9).

    Existing rows whose PK collides with the batch are replaced; everything
    else is kept. Atomic via staging-dir swap.
    """
    _merge_by_keys(spark, df, path, keys, batch_wins=True)


def insert_ignore_parquet(
    spark: SparkSession, df: DataFrame, path: str, keys: Sequence[str]
) -> None:
    """INSERT IGNORE semantics: existing rows win, new PKs appended (S10).

    Mirrors the reference's events sink (unique (Date, EdgeID, Name) +
    INSERT IGNORE, ``fun_mysql_inserts.py:282-288``).
    """
    _merge_by_keys(spark, df, path, keys, batch_wins=False)


def write_csv_report(df: DataFrame, path: str) -> None:
    """CSV side-output (reference S12, dump_appid_specific_qos_rules)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def swap_into_place(staging: str, path: str) -> None:
    """Crash-safe directory swap: at every instant a complete copy of the
    data exists on disk.

    rmtree-then-replace has a data-loss window — if the replace (or a
    partial rmtree) fails, the original is gone and the generic cleanup
    that removes the staging dir destroys the only remaining copy. The
    rename protocol never holds fewer than one complete copy: the
    original renames ASIDE (not deleted), staging renames in, and only
    then is the set-aside copy removed; a failure between the renames
    restores the original. Shared by the upsert sinks and compaction.
    """
    old = None
    if os.path.exists(path):
        old = tempfile.mkdtemp(
            prefix=os.path.basename(path) + ".old.",
            dir=os.path.dirname(path) or ".",
        )
        os.rmdir(old)
        os.replace(path, old)
    try:
        os.replace(staging, path)
    except BaseException:
        if old is not None:
            os.replace(old, path)  # restore the original
        raise
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)


def _atomic_overwrite(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Write to a staging dir, then swap — readers never see partial output."""
    staging = tempfile.mkdtemp(
        prefix=os.path.basename(path) + ".staging.", dir=os.path.dirname(path) or "."
    )
    try:
        df.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    swap_into_place(staging, path)
