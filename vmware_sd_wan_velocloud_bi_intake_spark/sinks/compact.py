"""Small-file compaction: rewrite a parquet dataset into right-sized files.

The operational reality of a 100 TB lake: streaming sinks, per-trigger
micro-batches, and fine-grained upserts accrete thousands of KB-scale
files per table; every downstream scan then pays a task per file and the
NameNode/listing cost dwarfs the read. Compaction is the periodic rewrite
into ``target_bytes``-sized files — the `OPTIMIZE` half of the lakehouse
maintenance loop (the Z-order half lives in `operators/zorder.py`; pass
``zorder_by`` to do both in one rewrite).

Sizing reads the actual on-disk byte count (one directory listing, no data
scan) and divides by the target; the rewrite is one `repartition` (or the
Z-order range exchange) and the swap is the same staging-dir atomic
replace as the upsert sink, so readers never observe a half-compacted
table. Row-count identity is checked before the swap — a compaction that
loses rows must fail loudly, not swap silently.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from .upsert import footer_schema, swap_into_place

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the HDFS-block-ish sweet spot

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
    ``operators.incstats.compact_stats_parts``.

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


def plan_file_count(path: str, target_bytes: int = DEFAULT_TARGET_BYTES) -> int:
    return max(1, math.ceil(dataset_bytes(path) / max(target_bytes, 1)))


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 12,
) -> int:
    """Rewrite the dataset at ``path`` into ~``target_bytes`` files.

    Returns the output file count. With ``zorder_by`` the rewrite clusters
    on the Morton key (compaction is the natural moment to fix layout —
    the data is being rewritten anyway, so the Z-order exchange is free
    relative to a dedicated pass).
    """
    part_dirs = [
        d
        for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    ]
    if part_dirs:
        # a flat rewrite would silently destroy the hive layout that
        # partition-pruned readers and the ingests' batch-keyed dynamic
        # overwrites depend on — compact each partition directory instead
        raise ValueError(
            f"compact_parquet: {path} is hive-partitioned "
            f"(e.g. {part_dirs[0]}); compact per-partition directory"
        )
    df = spark.read.parquet(path)
    n_files = plan_file_count(path, target_bytes)
    n_before = df.count()
    staging = tempfile.mkdtemp(
        prefix=os.path.basename(path) + ".compact.",
        dir=os.path.dirname(path) or ".",
    )
    try:
        if zorder_by:
            from ..operators.zorder import write_zordered

            # zvalue needs >= 2^bucket_bits key values; clamp file count
            # into the valid range instead of failing a tiny compaction
            kbits = len(zorder_by) * zorder_bits
            n_files = min(n_files, 1 << min(kbits, 30))
            write_zordered(
                df, staging, zorder_by, n_files=n_files, bits=zorder_bits
            )
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(staging)
        n_after = spark.read.parquet(staging).count()
        if n_after != n_before:
            raise RuntimeError(
                f"compact_parquet: row count changed {n_before} -> {n_after}; "
                "refusing the swap"
            )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    # rename-based swap: a complete copy exists at every instant (the
    # rmtree-then-replace form loses ALL copies if the replace fails and
    # the cleanup then removes staging)
    swap_into_place(staging, path)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def _leaf_partition_dirs(path: str) -> list[str]:
    """Hive leaf directories under ``path`` (every level is ``k=v``),
    depth-first, deterministic order."""
    leaves: list[str] = []

    def walk(d: str) -> None:
        subs = sorted(
            s
            for s in os.listdir(d)
            if "=" in s and os.path.isdir(os.path.join(d, s))
        )
        if not subs:
            if d != path:
                leaves.append(d)
            return
        for s in subs:
            walk(os.path.join(d, s))

    walk(path)
    return leaves


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 12,
) -> dict[str, int]:
    """Compact a hive-partitioned dataset one leaf partition at a time.

    Partition values live in the directory names, so each leaf can be
    rewritten independently with the same staged-swap protocol as
    :func:`compact_parquet` — the operation is atomic PER PARTITION (the
    same granularity at which streaming sinks fragment the table and
    commit their dynamic overwrites), and a crash leaves
    every partition either old or new, never mixed. Leaves already at or
    under their planned file count are skipped — the maintenance loop
    touches only fragmented partitions, so repeated runs are cheap no-ops.

    Returns {relative leaf dir: output file count} for the leaves
    rewritten. ``zorder_by`` must not include partition columns (they are
    constant within a leaf).
    """
    done: dict[str, int] = {}
    for leaf in _leaf_partition_dirs(path):
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        if len(files) <= plan_file_count(leaf, target_bytes):
            continue
        done[os.path.relpath(leaf, path)] = compact_parquet(
            spark,
            leaf,
            target_bytes=target_bytes,
            zorder_by=zorder_by,
            zorder_bits=zorder_bits,
        )
    return done
