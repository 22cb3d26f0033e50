"""Training-data split: deterministic hash splits, made near-dup-clean.

The last mile of a curation pipeline (after scrub/gate/dedup in
``plans/curation.py``): label each document with a split. Split
membership is a pure function of the document id — no RNG state — so the
split is reproducible run-to-run, engine-to-engine and at any
parallelism, and a document keeps its split as the corpus grows (the
property that keeps eval sets uncontaminated across refreshes).
:func:`split_by_hash` is a narrow projection (a hash-bucket threshold per
row); :func:`fix_split_leakage` then folds near-duplicate clusters that
straddle splits into one split.

Beyond-reference surface (no analog in the reference, which exports via
MySQL upserts).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000  # split-threshold resolution: 1e-6 of probability mass


def _hash01(id_col: Column, seed: int) -> Column:
    """Deterministic uniform-ish [0, 1) value from a row id + seed.

    xxhash64 is JVM-side and stable across Spark versions; mixing the seed
    as a hashed column (not the xxhash64 seed parameter) keeps the function
    expressible in engines without a seeded hash.
    """
    h = F.xxhash64(id_col.cast("string"), F.lit(seed))
    return (F.pmod(h, F.lit(_BUCKETS))).cast("double") / F.lit(float(_BUCKETS))


def split_by_hash(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    seed: int = 0,
    split_name: str = "split",
) -> DataFrame:
    """Label each row with a split ("train"/"val"/…) by id-hash bucket.

    Splits are disjoint, cover every row, and are a pure function of
    (id, seed): adding documents later never moves an existing document
    between splits — unlike ``randomSplit``, whose assignment depends on
    partition layout and sample order.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    h = _hash01(F.col(id_col), seed)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = h < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    labeled = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_name, labeled)


def fix_split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_name: str = "split",
    *,
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Make the split assignment near-dup-clean: afterwards no near-dup
    pair (same LSH knobs) straddles two splits.

    Leakage is transitive — A(train)~B(val) and B~C(val) means moving B
    alone just moves the straddle to B~C — so the fix operates on whole
    duplicate CLUSTERS (``duplicate_components`` over the full near-dup
    pair graph, operators/dedup.py), not on single cross-split pairs. Every cluster gets ONE canonical split: the split of
    its minimum-id member (the component label itself, so the canonical
    split is one join away and deterministic run-to-run).

    Every clustered document is RELABELED to its cluster's canonical
    split (keeps all rows; val loses/gains a few near-dup documents —
    re-check split sizes if the eval budget is tight); un-clustered
    documents (the overwhelming majority) are untouched. The re-audit is
    guaranteed empty: the row set is unchanged, so the LSH pass
    (including which degenerate buckets the ``max_bucket`` cap sidelines)
    is identical, and every near-dup pair lies inside one cluster whose
    members now share one split.

    Scale: one near-dup pass (bucketed, never all-pairs) + O(log n)
    hash-min rounds over the pair graph + two joins against the tiny
    (clustered-id, split) projections — the corpus itself is touched by
    exactly one join on ``id_col``.
    """
    from .dedup import duplicate_components, near_dup_pairs

    pairs = near_dup_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket=max_bucket,
    )
    comp = duplicate_components(pairs)  # (doc_id, component=min cluster id)
    canon = comp.join(
        df.select(
            F.col(id_col).alias("component"),
            F.col(split_name).alias("_canon_split"),
        ),
        "component",
    ).select(F.col("doc_id").alias(id_col), "_canon_split")
    return (
        df.join(canon, id_col, "left")
        .withColumn(
            split_name, F.coalesce(F.col("_canon_split"), F.col(split_name))
        )
        .drop("_canon_split")
    )
