"""Parts-table compaction: fold a batch-keyed table's old partitions into
one base partition.

Every ``foreachBatch`` ingest writes one ``_batch_id`` partition per
micro-batch, so a long-lived stream's tables accrete O(batches)
directories and every read pays that listing. Compaction folds the
committed partitions into the reserved base partition — by re-aggregating
(counts, sketches) or by concatenating rows (survivors, index rows) —
verifies the staged copy, and swaps it in with the same rename protocol
as the upsert sink, so readers never observe a half-compacted table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from .upsert import footer_schema, swap_into_place

BASE_PART = -1  # reserved _batch_id for a compacted parts-table base


def _part_ids(parts_dir: str, before_batch_id: int) -> list[int]:
    """The ``_batch_id`` values below ``before_batch_id`` that have a
    partition directory under ``parts_dir`` (empty when it is missing)."""
    if not os.path.isdir(parts_dir):
        return []
    ids = []
    for d in os.listdir(parts_dir):
        key, _, value = d.partition("=")
        if key == "_batch_id" and value.lstrip("-").isdigit():
            if int(value) < before_batch_id:
                ids.append(int(value))
    return ids


def _parts_schema(parts_dir: str):
    """The Spark schema of a ``_batch_id``-partitioned parts table, read on
    the driver: the data columns Spark wrote into one part file's footer,
    then the partition column."""
    import json

    from pyspark.sql.types import IntegerType, StructType

    meta = footer_schema(parts_dir).metadata[
        b"org.apache.spark.sql.parquet.row.metadata"
    ]
    return StructType.fromJson(json.loads(meta)).add("_batch_id", IntegerType())


def compact_parts(
    spark: SparkSession,
    parts_dir: str,
    before_batch_id: int,
    fold,
    verify,
    *,
    merge_schema: bool = False,
) -> bool:
    """Fold ``_batch_id``-keyed incremental parts older than
    ``before_batch_id`` into ONE base partition at the reserved id
    :data:`BASE_PART` — the shared crash-safety skeleton behind
    ``streaming.neardup.compact_summary_parts`` and
    :func:`compact_rows_parts`.

    The protocol (identical for every parts table, which is why it lives
    once, next to the swap it uses): read the parts, split old/keep at
    ``before_batch_id``, ``fold(old) -> one-or-few base rows`` (the
    caller's associative aggregate — the helper stamps ``_batch_id``),
    write the folded table to a staging dir, ``verify(parts, staged)``
    (caller raises on any invariant break — totals, per-key sums), then
    :func:`~.upsert.swap_into_place`. A crash anywhere before the swap
    leaves the original untouched (staging removed on the way out); the
    swap itself never holds fewer than one complete copy. An existing
    base part sorts below every real batch id, so it is folded into the
    new base rather than orphaned, and re-running is idempotent.

    The foldable parts are found by listing the ``_batch_id=<n>``
    directories on the driver — no Spark job — and the no-op cases
    (missing dir, <2 foldable parts) return False before any read. Without
    ``merge_schema`` the parts are read with the schema Spark stored in one
    part file's footer plus ``_batch_id int`` (the partition type Spark
    would infer), so the read runs no schema-inference job; with it,
    Spark infers and merges every part's schema.
    Callers own the replay-safety argument: pass the CURRENT foreachBatch
    id, whose predecessors can no longer replay.
    """
    from pyspark.sql import functions as F

    if len(_part_ids(parts_dir, before_batch_id)) < 2:
        return False  # zero/one foldable part: compaction buys nothing
    if merge_schema:
        reader = spark.read.option("mergeSchema", "true")
    else:
        reader = spark.read.schema(_parts_schema(parts_dir))
    parts = reader.parquet(parts_dir)
    old = parts.where(F.col("_batch_id") < F.lit(int(before_batch_id)))
    keep = parts.where(F.col("_batch_id") >= F.lit(int(before_batch_id)))
    base = fold(old).withColumn("_batch_id", F.lit(BASE_PART))
    merged = base.unionByName(
        keep.select(*base.columns), allowMissingColumns=merge_schema
    )
    staging = tempfile.mkdtemp(
        prefix=os.path.basename(parts_dir) + ".compact.",
        dir=os.path.dirname(parts_dir) or ".",
    )
    try:
        merged.write.mode("overwrite").partitionBy("_batch_id").parquet(staging)
        # the staged layout was just written from ``parts``: declare its
        # schema instead of paying an inference job to rediscover it
        verify(parts, reader.schema(parts.schema).parquet(staging))
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    swap_into_place(staging, parts_dir)
    return True


def compact_rows_parts(
    spark: SparkSession,
    parts_dir: str,
    before_batch_id: int,
    *,
    merge_schema: bool = False,
) -> bool:
    """Row-preserving :func:`compact_parts`: fold the ROWS of committed
    ``_batch_id`` partitions into the base partition unchanged (no
    aggregation — survivors tables, index band rows, ANN members).

    Why: every batch-keyed ingest writes one partition per micro-batch,
    so a long-lived stream's table accumulates O(batches) directories and
    every read pays that listing. Counts/sketches compact by REFOLDING
    (the aggregate form); row tables compact by CONCATENATION — same
    staging/verify/swap skeleton, identity fold. Verification is a
    row-multiset check: count plus an order-independent mod-2^64 sum of
    per-row hashes over every non-bookkeeping column — a dropped,
    duplicated, or mutated row changes it. Both sides' signatures come
    from ONE aggregation over the union of the parts and the staged copy.

    Safe for batches that can no longer replay (pass the CURRENT
    foreachBatch id); the base partition (id −1) sorts below every real
    batch id, so own-batch replay exclusions and partition-pruned reads
    keep working.
    """
    from pyspark.sql import functions as F

    def fold(old):
        return old.drop("_batch_id")

    def verify(parts, staged) -> None:
        cols = sorted(c for c in parts.columns if c != "_batch_id")
        side = "__compact_side"
        h = F.xxhash64(F.struct(*[F.col(c) for c in cols])).cast("decimal(38,0)")
        both = parts.select(*cols, F.lit(0).alias(side)).unionByName(
            staged.select(*cols, F.lit(1).alias(side))
        )
        row = both.agg(
            *[
                agg
                for k in (0, 1)
                for agg in (
                    F.count(F.when(F.col(side) == k, 1)).alias(f"n{k}"),
                    F.sum(F.when(F.col(side) == k, h)).alias(f"s{k}"),
                )
            ]
        ).head()

        def sig(k: int) -> tuple[int, int]:
            s = row[f"s{k}"]
            return (int(row[f"n{k}"]), int(s) % (1 << 64) if s is not None else 0)

        if sig(0) != sig(1):
            raise RuntimeError(
                "compact_rows_parts: row multiset changed; refusing the swap"
            )

    return compact_parts(
        spark, parts_dir, before_batch_id, fold, verify, merge_schema=merge_schema
    )


def dataset_bytes(path: str) -> int:
    """On-disk parquet bytes under ``path`` (recursive, listing only)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total
