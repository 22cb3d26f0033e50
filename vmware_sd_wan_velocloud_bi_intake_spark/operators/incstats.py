"""Incremental corpus statistics — mergeable per-batch sketch parts.

``operators.profile.profile_table`` is one full scan; perfect per release,
wrong per micro-batch: a streaming corpus would pay a growing full-corpus
scan every time the expectation gate wants fresh numbers. This module
keeps the statistics MERGEABLE instead — each batch writes one tiny part
row (row count, per-column null count, and a Datasketches HLL sketch
binary per column: ``hll_sketch_agg``, the union-exact sketch family
Spark 4 ships), and the reader folds all parts with ``hll_union_agg`` +
sums into a profile-shaped row set. Reading statistics for a
billion-row stream costs O(batches × columns), never a corpus scan.

Parts follow the engine's replay discipline (streaming/neardup.py): the
``_batch_id``-keyed dynamic partition overwrite makes a foreachBatch
replay rewrite its own part byte-identically instead of double counting.

Estimator note: ndv here is the Datasketches HLL estimate;
``profile_table`` uses Spark's HLL++ (``approx_count_distinct``). Both
are ±~2% but they are DIFFERENT estimators — drift-rule baselines must
come from the same family (ratios of the same estimator are consistent;
a mixed ratio adds the estimators' bias gap). The merged output carries
``min_str``/``max_str``/``max_len`` as None: sketch parts don't track
order statistics, so gates over incremental stats are limited to the
row-count / null-fraction / ndv rule families (check_expectations
reports a violation for value-range rules against a None — loud, not
silent) — PLUS the percentile-ratio family over ``length_of`` histogram
rows (``len(col)``): √2-log-bin counts merge exactly, and their
p50/p90 estimates feed ``min_p50_ratio``-style drift rules with the
documented ±~19% bin resolution.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# √2-spaced log bins for the mergeable length histograms: bin i (i ≥ 1)
# covers [2^((i-1)/2), 2^(i/2)) with bin 0 = {0}, so 64 bins span lengths
# up to 2^31.5 (the last bin absorbs the tail). Percentile estimates read
# the bin's geometric midpoint, so the resolution is a fixed ±~19%
# multiplicative band — coarse for reporting, exactly right for DRIFT
# detection (a halved median moves two whole bins).
HIST_BINS = 64


def _hist_bin(x) -> "F.Column":
    # x is a non-negative integer length; NULL propagates (excluded)
    return (
        F.when(x <= 0, F.lit(0))
        .otherwise(
            F.least(
                (F.floor(F.log2(x.cast("double")) * 2) + 1).cast("int"),
                F.lit(HIST_BINS - 1),
            )
        )
        .cast("int")
    )


def _hist_agg(b) -> "F.Column":
    """Histogram aggregate over a PRE-PROJECTED bin column. The bin
    expression must be materialized once per row by the caller's
    projection: inlining it here would re-evaluate the log2/floor chain
    once per bin per row (64×) — no CSE crosses aggregate-expression
    boundaries, and that redundancy measurably dominated the stats-part
    aggregation."""
    return F.array(
        *[
            F.sum(F.when(b == i, 1).otherwise(0)).cast("long")
            for i in range(HIST_BINS)
        ]
    )


def _bin_midpoint(i: int) -> float:
    if i == 0:
        return 0.0
    lo, hi = 2 ** ((i - 1) / 2), 2 ** (i / 2)
    return math.sqrt(lo * hi)


def _hist_percentile(counts: list[int], q: float) -> float | None:
    total = sum(counts)
    if total == 0:
        return None
    target = q * total
    acc = 0
    for i, c in enumerate(counts):
        acc += c
        if acc >= target:
            return _bin_midpoint(i)
    return _bin_midpoint(len(counts) - 1)


def stats_part(
    df: DataFrame,
    columns: list[str],
    length_of: list[str] | None = None,
) -> DataFrame:
    """One-ROW mergeable statistics part over ``df``: total rows plus,
    per column, the null count and an HLL sketch of the non-null values
    (cast to string — one sketch family across types). A single global
    aggregation with map-side partials; the output row is a few KB.

    ``length_of`` names string columns whose LENGTH distribution should
    also be tracked, as a fixed √2-log-bin histogram (``HIST_BINS``
    longs) — bin counts merge EXACTLY by element-wise sum, giving the
    gate mergeable percentile estimates (a corpus whose median document
    length halves is a broken upstream even when row counts hold).
    """
    proj, aggs = _stats_aggs(df, columns, length_of)
    return proj.agg(*aggs)


def _stats_aggs(df, columns, length_of):
    """The shared (projected input, aggregate list) behind every
    stats-part producer — the projection materializes each length_of
    column's histogram bin once per row (see :func:`_hist_agg`)."""
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"stats_part: unknown columns {missing}")
    for c in length_of or []:
        if c not in columns:
            raise ValueError(
                f"stats_part: length_of column {c!r} must also be profiled"
            )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}")
        )
        aggs.append(
            F.hll_sketch_agg(F.col(c).cast("string")).alias(f"__hll_{c}")
        )
    proj = df
    for c in length_of or []:
        proj = proj.withColumn(f"__bin_{c}", _hist_bin(F.length(F.col(c))))
        aggs.append(_hist_agg(F.col(f"__bin_{c}")).alias(f"__histlen_{c}"))
    return proj, aggs


def write_stats_parts_split(
    df: DataFrame,
    columns: list[str],
    parts_dir: str,
    split: "F.Column",
    length_of: list[str] | None = None,
):
    """BACKFILL form: publish MANY batch-keyed parts from one pass.

    ``split`` is an expression assigning each row its part's
    ``_batch_id`` (e.g. a date bucket when backfilling months of history
    into per-day parts). One grouped aggregation + one dynamic partition
    overwrite — the per-batch :func:`write_stats_part` would pay one
    full scan PER part here; the resulting parts table is identical
    (grouped aggregates ≡ per-group global aggregates), so
    ``merged_stats`` folds either spelling the same way.

    Returns the written parts schema (``_batch_id`` included) — callers
    that immediately fold what they just wrote pass it to
    :func:`merged_stats` and skip the mergeSchema footer-read job (r14).
    """
    proj, aggs = _stats_aggs(df, columns, length_of)
    out = proj.groupBy(split.cast("long").alias("_batch_id")).agg(*aggs)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(parts_dir)
    )
    return out.schema


def write_stats_part(
    df: DataFrame,
    columns: list[str],
    parts_dir: str,
    batch_id: int,
    length_of: list[str] | None = None,
) -> None:
    """Publish a batch's part, keyed by ``_batch_id`` via dynamic
    partition overwrite — a foreachBatch replay rewrites its own part
    byte-identically (the at-least-once discipline every batch-keyed
    sink in this engine follows)."""
    part = stats_part(df, columns, length_of=length_of).withColumn(
        "_batch_id", F.lit(int(batch_id))
    )
    # per-WRITE dynamic overwrite: scoped to this write, never mutates
    # the session conf (a session-level 'dynamic' would leak into every
    # later overwrite-partitionBy write on this driver)
    (
        part.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(parts_dir)
    )


def merged_stats(
    spark,
    parts_dir: str,
    columns: list[str],
    length_of: list[str] | None = None,
    include_ndv: bool = True,
    schema=None,
) -> list[dict]:
    """Fold every part into profile-shaped rows (the dict form
    ``check_expectations`` consumes): counts SUM — exactly, independent
    of batching — and sketches UNION, whose ESTIMATE is
    batching-sensitive within the sketch's ±2% (Datasketches HLL
    promotes sparse→dense at representation-dependent points, so the
    union of four quarter sketches and one full sketch can disagree by
    a count or two; pad ndv drift rules accordingly, same as
    profile_table's HLL++ caveat). O(batches) rows in, ``len(columns)``
    dicts out; the corpus is never touched.
    """
    if not os.path.isdir(parts_dir):
        raise FileNotFoundError(f"no stats parts under {parts_dir}")
    # mergeSchema: a dir may mix parts written before a length_of upgrade
    # (no __histlen column — reads as NULL) with histogram-bearing ones;
    # without it the read either fails on UNRESOLVED_COLUMN or silently
    # binds whichever schema the footer sample picked.
    # ``schema`` (r14): a caller that KNOWS the parts layout — it just
    # wrote every part itself (inc_stats_merge's backfill-then-fold) —
    # passes the writer's schema instead; a declared-schema read skips
    # the footer-sampling/merge job the option runs per fold. Mixed-era
    # dirs must keep the mergeSchema path.
    parts = (
        spark.read.schema(schema).parquet(parts_dir)
        if schema is not None
        else spark.read.option("mergeSchema", "true").parquet(parts_dir)
    )
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for c in length_of or []:
        if f"__histlen_{c}" not in parts.columns:
            raise ValueError(
                f"merged_stats: no part carries a length histogram for "
                f"{c!r} — the writers never passed length_of"
            )
        # coalesce every element: an EMPTY batch's part stores the
        # histogram as 64 NULLs (F.sum over zero rows), and pre-upgrade
        # parts contribute a NULL array — both must fold as zeros, the
        # same tolerance the HLL path below applies to NULL sketches.
        # Percentiles therefore cover only histogram-bearing batches; the
        # hist row's own n_rows (Σ bin counts) says how many.
        aggs.append(
            F.array(
                *[
                    F.coalesce(
                        F.sum(F.element_at(F.col(f"__histlen_{c}"), i + 1)),
                        F.lit(0),
                    )
                    .cast("long")
                    for i in range(HIST_BINS)
                ]
            ).alias(f"__histlen_{c}")
        )
    for c in columns:
        aggs.append(F.sum(f"__nulls_{c}").cast("long").alias(f"__nulls_{c}"))
        if not include_ndv:
            # callers that only need the EXACT statistics (counts, nulls,
            # histogram percentiles) skip the sketch unions — the HLL
            # columns stay in the parts for any later reader, but folding
            # them is the dominant cost of this O(batches)-row aggregate
            continue
        # an all-NULL column (or an empty batch) yields NULL sketches;
        # the union of nothing is NULL and its estimate must read as 0
        # distinct values, not crash the fold
        aggs.append(
            F.coalesce(
                F.hll_sketch_estimate(F.hll_union_agg(f"__hll_{c}")),
                F.lit(0),
            )
            .cast("long")
            .alias(f"__ndv_{c}")
        )
    row = parts.agg(*aggs).head()
    out = []
    for c in columns:
        n, nulls = int(row["n_rows"]), int(row[f"__nulls_{c}"])
        out.append(
            {
                "column": c,
                "dtype": None,
                "n_rows": n,
                "n_nulls": nulls,
                "null_frac": (nulls / n) if n else 0.0,
                "ndv_approx": int(row[f"__ndv_{c}"]) if include_ndv else None,
                "min_str": None,
                "max_str": None,
                "max_len": None,
            }
        )
    for c in length_of or []:
        counts = [int(x) for x in row[f"__histlen_{c}"]]
        n = sum(counts)
        out.append(
            {
                "column": f"len({c})",
                "dtype": None,
                "n_rows": n,
                "n_nulls": 0,
                "null_frac": 0.0,
                "ndv_approx": None,
                "min_str": None,
                "max_str": None,
                "max_len": None,
                "p50_est": _hist_percentile(counts, 0.5),
                "p90_est": _hist_percentile(counts, 0.9),
            }
        )
    return out


_BASE_PART = -1  # reserved _batch_id for the compacted stats base


def compact_stats_parts(spark, parts_dir: str, before_batch_id: int) -> bool:
    """Roll stats parts with ``_batch_id < before_batch_id`` into ONE base
    part at the reserved id −1 — the same discipline
    ``streaming.neardup.compact_summary_parts`` applies to its summary,
    for the same reason: a long-lived stream otherwise accumulates one
    tiny part per batch forever and every ``merged_stats`` pays an
    O(batches) listing. Every statistic here is associative (counts and
    histogram bins by sum, HLL sketches by register-wise union), so
    folding never changes the merged result; counts and histogram totals
    are verified before the swap (sketch estimates can shift a hair
    across representations — see merged_stats — so the sketch columns
    ride the associativity argument, not a byte check). Fold/verify/swap
    is the shared :func:`~..sinks.compact.compact_parts` staging-dir
    skeleton. Safe only for batches that can no longer replay: call with
    the CURRENT foreachBatch id. Idempotent; returns False for the no-op
    cases (missing dir, <2 foldable parts)."""
    from ..sinks.compact import compact_parts

    def fold(old) -> "DataFrame":
        null_cols = [c for c in old.columns if c.startswith("__nulls_")]
        hll_cols = [c for c in old.columns if c.startswith("__hll_")]
        hist_cols = [c for c in old.columns if c.startswith("__histlen_")]
        aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
        aggs += [F.sum(c).cast("long").alias(c) for c in null_cols]
        aggs += [F.hll_union_agg(c).alias(c) for c in hll_cols]
        aggs += [
            F.array(
                *[
                    F.coalesce(F.sum(F.element_at(F.col(c), i + 1)), F.lit(0))
                    .cast("long")
                    for i in range(HIST_BINS)
                ]
            ).alias(c)
            for c in hist_cols
        ]
        return old.agg(*aggs)

    def verify(parts, staged) -> None:
        # exact-count invariant, distributed: totals for n_rows, every
        # null counter, and every histogram bin must be unchanged
        null_cols = [c for c in parts.columns if c.startswith("__nulls_")]
        hist_cols = [c for c in parts.columns if c.startswith("__histlen_")]
        checks = [F.sum("n_rows").alias("n_rows")] + [
            F.sum(c).alias(c) for c in null_cols
        ] + [
            F.sum(F.element_at(F.col(c), i + 1)).alias(f"{c}_{i}")
            for c in hist_cols
            for i in range(HIST_BINS)
        ]
        before = parts.agg(*checks).head()
        after = staged.agg(*checks).head()
        if [x or 0 for x in before] != [x or 0 for x in after]:
            raise RuntimeError(
                "compact_stats_parts: totals changed; refusing the swap"
            )

    return compact_parts(
        spark, parts_dir, before_batch_id, fold, verify, merge_schema=True
    )
