"""Query-catalog plumbing.

Each catalog entry binds a Spark implementation to (optionally) an ANSI-SQL
oracle that DuckDB executes over the same parquet tables. The driver compares
row-count + schema + order-insensitive value-hash (see __spark_entry__.py), so
every computed column is aliased identically on both sides and all float
outputs are produced by deterministic arithmetic (decimal-exact aggregation,
fixed-order scalar expressions).
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Q:
    """One catalog query.

    fn     : (spark, sf_dir) -> DataFrame
    oracle : equivalent DuckDB SQL, or None for non-SQL-expressible operators
             (driver then records a weaker rows-only check)
    ops    : SURVEY.md §2 operator IDs this query exercises
    doc    : one-line description
    folds  : former catalog vehicles this slot absorbed (the 50-slot cap
             is load-bearing — every fold is recorded here, "rN: name
             (how it rides)", and COVERAGE.md's generated slot table
             renders the full history; tests/test_catalog_contract.py
             keeps the table in sync with these declarations)
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    ops: tuple[str, ...] = field(default=())
    doc: str = ""
    folds: tuple[str, ...] = field(default=())


@contextmanager
def micro_batch_confs(spark, shuffle_partitions: int = 4):
    """Scoped session confs for MICRO-BATCH-sized work inside a catalog
    vehicle: AQE off (per-exchange stage materialization is pure driver
    latency when there is nothing to re-plan) and few shuffle partitions
    (32 reduce tasks per exchange over hundreds of rows is ~600
    near-empty tasks of scheduling per micro-batch — interleaved A/B on
    the streaming vehicle: 9.7→5.5 s). Delegates to the shared
    get→set→restore scope (functions/conf.py — same rule, batch-sized
    instead of loop-sized). The catalog runs serially, so a scoped
    override cannot race another query.

    The semantic-dedup stream and the incremental-stats vehicles use it.
    The near-dup stream vehicle does not: its ingest opens the same
    scope per micro-batch, sized from the batch's own row count.
    """
    from ..functions.conf import iterative_loop_confs

    with iterative_loop_confs(spark, shuffle_partitions):
        yield


# vehicle-key → the staged DataFrame its last invocation checkpointed
_STAGED_CHECKPOINTS: dict[str, DataFrame] = {}


def stage_checkpoint(df: DataFrame, key: str) -> DataFrame:
    """Eager ``localCheckpoint`` for a catalog vehicle's staged relation,
    UNPERSISTING the previous invocation's checkpoint under the same key
    (r14, VERDICT r13 #9 + ADVICE): the eager checkpoints inside query
    builders (txt_quality_clf's features, sim_ann_ivf's PQ index,
    dedup_survivors' verified pairs) were never unpersisted, so a
    long-lived session accrued one cached relation per invocation until
    driver GC. This bounds the accrual to ONE staged relation per
    vehicle key.

    Contract: building a new DataFrame for a vehicle INVALIDATES the
    previously returned one (its checkpointed blocks are dropped and
    localCheckpoint truncates lineage, so it cannot recompute). That is
    the catalog's actual usage — each invocation's result is fully
    consumed before the next (bench passes, the driver's verify) — and
    the price of not leaking storage on a session that invokes a vehicle
    thousands of times. localCheckpoint itself remains non-recoverable
    on executor loss (the txt_quality_clf caveat); a cluster deployment
    swaps in a reliable checkpoint/staging table at the call site.
    """
    ck = df.localCheckpoint(eager=True)
    prev = _STAGED_CHECKPOINTS.get(key)
    if prev is not None:
        try:
            # DataFrame.unpersist is a CacheManager call and does NOT
            # release localCheckpoint blocks (they live as RDD-level
            # persistence); the checkpointed RDD hangs off the returned
            # Dataset's LogicalRDD plan node — unpersist THAT (verified:
            # getRDDStorageInfo count drops to 0)
            prev._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # a stopped/replaced context has already dropped it
    _STAGED_CHECKPOINTS[key] = ck
    return ck


def stage_checkpoints_concurrent(
    named: list[tuple[str, DataFrame]],
) -> list[DataFrame]:
    """Stage SEVERAL independent relations for one vehicle, their eager
    checkpoint jobs submitted concurrently (guide §2.6: actions are only
    sequential because the driver calls them sequentially — independent
    staging jobs overlap to the wall of the slowest instead of the sum).
    Each entry gets the full :func:`stage_checkpoint` contract (eager
    localCheckpoint, prior invocation's blocks dropped per key). Order of
    the returned list matches the input; the staging runs on
    ``functions.conf.run_together``, one thread per entry: these are
    per-vehicle decision tables (2–4), not a fan-out.

    Must not be called inside a scoped-conf context
    (:func:`micro_batch_confs` / ``functions.conf.iterative_loop_confs``):
    the scope's session-conf mutation and restore would race the
    concurrently submitted jobs."""
    from ..functions.conf import run_together

    return run_together(
        named[0][1].sparkSession if named else None,
        [lambda k=k, d=d: stage_checkpoint(d, k) for k, d in named],
    )
