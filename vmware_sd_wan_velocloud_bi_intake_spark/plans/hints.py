"""Statistics-driven join hints: close the ANALYZE loop.

``operators.profile.profile_table`` produces the per-column statistics a
pipeline collects once per table (exact row count, HLL ndv, null
fractions); this module turns those statistics into join-strategy
decisions, instead of leaving every plan to hardcode ``F.broadcast`` or
trust static file-size estimates that post-shuffle/aggregated relations
don't have. The same pattern already runs inside ``operators.lm`` (the
trained ``vocab_size`` statistic gates the contexts-table broadcast);
this is the general, any-relation form.

Decision rule: estimated in-memory size = n_rows × Σ per-column width,
widths taken from the profiled dtypes (strings estimated from the
profiled max length when available). Broadcast only when the estimate
fits ``max_bytes`` — mirroring ``spark.sql.autoBroadcastJoinThreshold``
semantics but driven by EXACT row counts from the profile rather than
file sizes, which is what makes it usable for aggregated/derived
relations. Above the bound the relation is left unhinted and AQE picks
the strategy from measured runtime sizes. Hot-key skew is AQE's job too:
``session.py`` turns on ``adaptive.skewJoin`` and partition coalescing.

Scale: decisions read the profile relation — one row per column,
bounded by schema width, never by data — so the driver-side collect here
is O(columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# conservative default: well under the ~200 MB executor-broadcast comfort
# zone, comfortably above the 10 MB autoBroadcastJoinThreshold default
DEFAULT_BROADCAST_MAX_BYTES = 32 << 20

# per-value in-memory width estimates by profiled dtype (UnsafeRow-ish:
# fixed-width slots + null bits; strings/binary add their payload)
_FIXED_WIDTHS = {
    "boolean": 1,
    "tinyint": 1,
    "smallint": 2,
    "int": 4,
    "date": 4,
    "float": 4,
    "bigint": 8,
    "double": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
}
_DEFAULT_WIDTH = 24  # strings with no profiled max, decimals, complex types


def estimated_bytes(profile_rows: list[dict]) -> int:
    """Estimated in-memory relation size from profile_table output rows
    (as dicts). n_rows is identical on every row; widths come per column.
    """
    if not profile_rows:
        return 0
    n_rows = int(profile_rows[0]["n_rows"])
    width = 0
    for r in profile_rows:
        dtype = r["dtype"]
        if dtype in _FIXED_WIDTHS:
            width += _FIXED_WIDTHS[dtype]
        elif dtype == "string" and r.get("max_len") is not None:
            # profiled max LENGTH bounds the payload (+8 offset/len).
            # NEVER len(max_str): that is the lexicographically-max VALUE,
            # whose length says nothing about the widest row ('zz' sorts
            # after a 50 KB document) — using it understates relation
            # size by orders of magnitude and force-broadcasts giants
            width += int(r["max_len"]) + 8
        else:
            width += _DEFAULT_WIDTH
    return n_rows * width


def broadcast_decision(
    profile: DataFrame | list[dict],
    max_bytes: int = DEFAULT_BROADCAST_MAX_BYTES,
) -> bool:
    """True iff the profiled relation's estimated size fits a broadcast.

    ``profile`` is ``profile_table(df)`` (or its collected rows) for the
    relation under consideration — collecting it here is O(columns).
    """
    if isinstance(profile, DataFrame):
        profile = profile.collect()
    rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in profile]
    return estimated_bytes(rows) <= max_bytes

