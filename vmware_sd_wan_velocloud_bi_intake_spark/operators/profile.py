"""Table profiling — the ANALYZE-style statistics pass (beyond-reference).

One scan over any DataFrame produces a per-column statistics relation:
row count, null count/fraction, approximate distinct count (HLL++ — the
a22 lesson applies: exact multi-column ``countDistinct`` expand-replicates
the scan per column and is precisely what a profiling pass must never do),
and min/max. The operator a pipeline runs before choosing join strategies,
partition keys, or skew mitigations — and the quickest data-quality smoke
there is (sudden null-fraction or cardinality shifts).

Shape: ONE global aggregation (map-side partials, no keyed shuffle, one
reduce to a single row) carrying every column's metrics, then an in-row
explode to the long form. Cost is one pass regardless of column count.
Complex-typed columns (arrays/structs/maps) profile nulls only — min/max
ordering and HLL hashing over deep structures cost more than the stats are
worth, and a string cast would be lossy anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _is_atomic(dtype: str) -> bool:
    return not any(dtype.startswith(p) for p in ("array<", "map<", "struct<"))


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(column, dtype, n_rows, n_nulls, null_frac, ndv_approx, min_str,
    max_str, max_len) — one output row per profiled column, one scan.
    ``max_len`` is the maximum string LENGTH (width stat for size
    estimation); NULL for non-string columns.

    ``ndv_approx`` is HLL++ at default precision (±~2.3%); min/max are
    string-rendered for a heterogeneous long-form schema. Complex types
    get NULL ndv/min/max (nulls-only profile).

    No pipeline calls it: kept as the full-scan reference that
    tests/test_incstats.py and tests/test_gateway_pipeline.py compare against.
    """
    cols = columns if columns is not None else df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    if len(set(cols)) != len(cols):
        # duplicate names would build duplicate agg aliases and surface as
        # an opaque ambiguous-reference AnalysisException at plan time
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        raise ValueError(f"profile_table: duplicate columns {dupes}")
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nul_{c}")
        )
        if _is_atomic(dtypes[c]):
            aggs += [
                F.approx_count_distinct(c).alias(f"__ndv_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            ]
        if dtypes[c] == "string":
            # max VALUE (above) is a range stat; max LENGTH is the width
            # stat size estimation needs — they are unrelated ('zz' sorts
            # after a 50 KB document)
            aggs.append(F.max(F.length(F.col(c))).alias(f"__len_{c}"))
    row = df.agg(*aggs)
    entries = []
    for c in cols:
        atomic = _is_atomic(dtypes[c])
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col("__rows").alias("n_rows"),
                F.col(f"__nul_{c}").alias("n_nulls"),
                F.when(F.col("__rows") == 0, F.lit(0.0))
                .otherwise(
                    F.col(f"__nul_{c}").cast("double") / F.col("__rows")
                )
                .alias("null_frac"),
                (
                    F.col(f"__ndv_{c}")
                    if atomic
                    else F.lit(None).cast("long")
                ).alias("ndv_approx"),
                (
                    F.col(f"__min_{c}") if atomic else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"__max_{c}") if atomic else F.lit(None).cast("string")
                ).alias("max_str"),
                (
                    F.col(f"__len_{c}")
                    if dtypes[c] == "string"
                    else F.lit(None).cast("int")
                ).alias("max_len"),
            )
        )
    return row.select(F.explode(F.array(*entries)).alias("p")).select("p.*")

