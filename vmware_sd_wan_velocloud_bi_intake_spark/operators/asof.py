"""Distributed as-of join (union-window form).

The reference's closest analog is the per-entity staleness point lookup
(reference ``fun_mysql_query.py:40-60``): "the latest state row at or before
now, per key". The general operator — each left row matched to the most
recent right row at-or-before its timestamp, per key — does not exist in the
reference and Spark has no native ASOF JOIN, so it is composed from
primitives:

  1. Tag right rows 0 and left rows 1, project both onto a common shape.
  2. Union (narrow — no shuffle).
  3. One window ``partitionBy(key) orderBy(ts, tag, value)`` carrying
     ``last(value, ignorenulls=True)`` over the unbounded-preceding frame.
  4. Keep left rows; the carried struct is the as-of match.

Scale properties (SCALE.md ground rules): exactly ONE shuffle, keyed by the
join key; per-key state in the running ``last()`` is O(1); neither side needs
to fit in memory or be broadcast — this is the sort-based formulation that
survives both sides being 100 TB facts. Determinism: ties at equal timestamp
are broken by (tag, value-struct) ordering, so equal-timestamp right rows
resolve to the maximum value struct — the same answer at any parallelism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_K, _T, _TAG, _V = "__asof_k", "__asof_t", "__asof_tag", "__asof_v"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: for each ``left`` row, the most recent ``right``
    row with ``right_ts <= left_ts`` and matching key; inclusive at equality.

    Returns ``left``'s columns plus ``value_cols`` (null when no prior right
    row exists for the key).
    """
    left_cols = list(left.columns)
    left_types = dict(left.dtypes)
    value_struct = F.struct(*[F.col(c) for c in value_cols])

    right_side = right.select(
        F.col(right_key).alias(_K),
        F.col(right_ts).cast("timestamp").alias(_T),
        F.lit(0).alias(_TAG),
        value_struct.alias(_V),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_cols],
    )
    null_struct: Column = F.lit(None).cast(
        right_side.schema[_V].dataType.simpleString()
    )
    left_side = left.select(
        F.col(left_key).alias(_K),
        F.col(left_ts).cast("timestamp").alias(_T),
        F.lit(1).alias(_TAG),
        null_struct.alias(_V),
        *left_cols,
    )

    w = (
        Window.partitionBy(_K)
        .orderBy(
            F.col(_T).asc(),
            F.col(_TAG).asc(),
            F.col(_V).asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        right_side.unionByName(left_side)
        .withColumn("__asof_match", F.last(_V, ignorenulls=True).over(w))
        .filter(F.col(_TAG) == 1)
    )
    return carried.select(
        *left_cols,
        *[F.col(f"__asof_match.{c}").alias(c) for c in value_cols],
    )
