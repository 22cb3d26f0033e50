"""Incremental corpus statistics — mergeable batch-keyed sketch parts.

``operators.profile.profile_table`` is one full scan. This module keeps
the statistics MERGEABLE instead: one pass (:func:`write_stats_parts_split`,
what the catalog's ``inc_stats_merge`` runs) writes one tiny part row per
batch key (row count, per-column null count, and a Datasketches HLL
sketch binary per column: ``hll_sketch_agg``, the union-exact sketch
family Spark 4 ships), and the reader folds all parts with
``hll_union_agg`` + sums into a profile-shaped row set. Reading the
statistics costs O(parts × columns), never a corpus scan.

Parts follow the engine's replay discipline (streaming/neardup.py): the
``_batch_id``-keyed dynamic partition overwrite makes a rewrite of the
same batch keys replace their parts instead of double counting.

Estimator note: ndv here is the Datasketches HLL estimate;
``profile_table`` uses Spark's HLL++ (``approx_count_distinct``). Both
are ±~2% but they are DIFFERENT estimators — drift-rule baselines must
come from the same family (ratios of the same estimator are consistent;
a mixed ratio adds the estimators' bias gap). The merged output carries
``min_str``/``max_str``/``max_len`` as None: sketch parts don't track
order statistics. ``length_of`` columns add histogram rows
(``len(col)``): √2-log-bin counts merge exactly, and their p50/p90
estimates carry the documented ±~19% bin resolution.
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


def write_stats_parts_split(
    df: DataFrame,
    columns: list[str],
    parts_dir: str,
    split: "F.Column",
    length_of: list[str] | None = None,
):
    """Write MANY batch-keyed parts from one pass.

    ``split`` is an expression assigning each row its part's
    ``_batch_id`` (e.g. a date bucket when backfilling months of history
    into per-day parts). One grouped aggregation + one dynamic partition
    overwrite, keyed by ``_batch_id``: rewriting a batch key replaces its
    part. ``length_of`` names string columns whose LENGTH distribution is
    also tracked, as a fixed √2-log-bin histogram (``HIST_BINS`` longs)
    whose bin counts merge EXACTLY by element-wise sum.

    Each part row holds the batch's total rows plus, per column, the null
    count and an HLL sketch of the non-null values (cast to string — one
    sketch family across types). The projection materializes each
    length_of column's histogram bin once per row (see :func:`_hist_agg`).

    Returns the written parts schema (``_batch_id`` included) — callers
    that immediately fold what they just wrote pass it to
    :func:`merged_stats` and skip the mergeSchema footer-read job (r14).
    """
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"stats parts: unknown columns {missing}")
    for c in length_of or []:
        if c not in columns:
            raise ValueError(
                f"stats parts: length_of column {c!r} must also be profiled"
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
    out = proj.groupBy(split.cast("long").alias("_batch_id")).agg(*aggs)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(parts_dir)
    )
    return out.schema


def merged_stats(
    spark,
    parts_dir: str,
    columns: list[str],
    length_of: list[str] | None = None,
    include_ndv: bool = True,
    schema=None,
) -> list[dict]:
    """Fold every part into profile-shaped rows (the dict form of
    ``profile_table``'s rows): counts SUM — exactly, independent
    of batching — and sketches UNION, whose ESTIMATE is
    batching-sensitive within the sketch's ±2% (Datasketches HLL
    promotes sparse→dense at representation-dependent points, so the
    union of four quarter sketches and one full sketch can disagree by
    a count or two, the same caveat as profile_table's HLL++).
    O(batches) rows in, ``len(columns)``
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
        # coalesce every element: pre-upgrade parts contribute a NULL
        # array, which must fold as zeros, the same tolerance the HLL
        # path below applies to NULL sketches.
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
        # an all-NULL column yields NULL sketches;
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
