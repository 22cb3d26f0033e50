"""Scoped SparkSession conf management, data-sized loop parallelism, and
concurrent independent actions.

Three recurring engine needs live here:

1. ``scoped_confs`` — get→set→restore of session confs with proper
   handling of previously-UNSET keys (restore unsets them again instead
   of pinning a stale value). Session confs are process-global; every
   engine-internal override must be scoped or it leaks into the caller's
   later queries (a session-wide ``partitionOverwriteMode=dynamic`` would
   make every later overwrite-partitionBy write keep stale partitions).

2. ``iterative_loop_confs`` / ``loop_partition_count`` — the
   partitioning rule for DRIVER-ITERATED loops (BPE merge rounds, GD
   steps, Lloyd iterations): shuffle partitioning must track the data IN
   FLIGHT, not the session default. A training loop typically iterates
   over a relation that is orders of magnitude smaller than the corpus
   it was aggregated from (BPE's vocab table, a classifier's
   (features, label) projection); keeping corpus-scale partitioning
   through N sequential jobs multiplies the per-job scheduler floor —
   32 near-empty tasks per exchange per iteration — by N for zero
   parallelism benefit. Measured on the catalog vehicles (local[32],
   sf0.1, interleaved A/B): the floor, not the arithmetic, dominated
   both trainers. The same rule at 100 TB: a 32k-merge BPE run's vocab
   is ~100 M rows while its corpus is billions — the loop should run at
   vocab-scale parallelism (hundreds of tasks), not corpus-scale
   (hundreds of thousands). ``sized_partition_count`` adds a bytes floor
   for scopes whose rows are wide (the near-dup ingest's documents).

AQE is disabled inside loop scopes for the same reason as
``queries/base.micro_batch_confs`` (which delegates here): per-exchange
query-stage materialization is pure driver latency when every exchange
is small and there is nothing to re-plan — and the loop's whole premise
is that its exchanges are small.

3. ``run_together`` — independent actions are only sequential because a
   driver calls them sequentially; run together, their per-job floors and
   driver-side planning overlap (Py4J calls release the GIL).
"""

from __future__ import annotations

from contextlib import contextmanager

_UNSET = object()


@contextmanager
def scoped_confs(spark, confs: dict[str, str]):
    """Set session confs for the block, restoring prior state on exit —
    including UNSETTING keys that had no session-level value before (a
    plain get/set restore would pin the effective default as an explicit
    session value forever)."""
    prior: dict[str, object] = {}
    # The set loop runs INSIDE the try: if a later key fails to set (e.g.
    # a non-runtime-settable conf raises), the finally still restores the
    # subset of ``prior`` captured so far instead of leaking the earlier
    # overrides into the caller's session.
    try:
        for k, v in confs.items():
            try:
                prior[k] = spark.conf.get(k)
            except Exception:
                prior[k] = _UNSET
            spark.conf.set(k, v)
        yield
    finally:
        for k, p in prior.items():
            if p is _UNSET:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, p)


# Rows per loop-relation partition. Loop relations are narrow by
# construction (a vocab row is a word + freq + symbol array; a GD row is
# d doubles + a label) — ~100 bytes-scale — so 512k rows is tens of MB
# per task: big enough that the scheduler floor is amortized, small
# enough that a task never approaches executor memory.
LOOP_ROWS_PER_PARTITION = 1 << 19


def loop_partition_count(
    n_rows: int, current: int, rows_per_partition: int = LOOP_ROWS_PER_PARTITION
) -> int:
    """Partitions for a loop relation of ``n_rows`` rows: enough to keep
    tasks at ``rows_per_partition``, never more than the relation already
    has (shrink-only — a loop must not EXPAND parallelism past the
    upstream's, which the cluster sized)."""
    need = max(1, (n_rows + rows_per_partition - 1) // rows_per_partition)
    return max(1, min(need, current))


def sized_partition_count(spark, n_rows: int, n_bytes: int) -> int:
    """Shuffle partitions for work of ``n_rows`` rows and ``n_bytes``
    bytes in flight: the larger of :func:`loop_partition_count`'s rows
    need and a bytes need at the session's advisory partition size (the
    size AQE's coalescing packs partitions to), never more than the
    session's shuffle partitions. Rows alone suit narrow loop rows; a
    relation of wide rows (documents, shingle arrays) needs the bytes
    floor, or an AQE-off scope would pack GBs into one task."""
    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = int(
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
    )
    by_bytes = (n_bytes + target - 1) // target
    return max(loop_partition_count(n_rows, current), min(by_bytes, current))


@contextmanager
def iterative_loop_confs(spark, partitions: int):
    """Conf scope for a driver-iterated training loop whose per-iteration
    relation is ``partitions`` partitions: shuffles sized to the data in
    flight, AQE off (nothing to re-plan, per-stage materialization is
    driver latency multiplied by the iteration count)."""
    with scoped_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(int(partitions)),
        },
    ):
        yield


def run_together(spark, fns: list) -> list:
    """Call the independent ``fns`` concurrently; return their results in
    order. Waits for ALL of them before raising the first failure, so a
    caller's ``finally`` never releases what a running action reads. The
    pool lives for this call only (one or no fn runs inline), and
    ``inheritable_thread_target`` keeps the caller's job group on it."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(len(fns)) as pool:  # exiting waits for all
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    return [f.result() for f in futures]
