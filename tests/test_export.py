"""Training-data split (operators/export.py): deterministic hash splits
and the near-dup leakage fix, checked against a direct audit of
cross-split near-dup pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import export
from vmware_sd_wan_velocloud_bi_intake_spark.operators.dedup import near_dup_pairs
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table


def test_split_disjoint_covering_stable(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    n = docs.count()
    s = export.split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n  # covering, disjoint by construction
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    # stability: splitting a SUBSET assigns every doc the same split
    sub = export.split_by_hash(
        docs.filter("doc_id % 3 = 0"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    full = {r["doc_id"]: r["split"] for r in s.select("doc_id", "split").collect()}
    for r in sub.select("doc_id", "split").collect():
        assert full[r["doc_id"]] == r["split"]


def test_split_proportions_roughly_match(spark):
    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    s = export.split_by_hash(df, "doc_id", {"train": 0.9, "val": 0.1})
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 20_000 - 0.9) < 0.02


def test_split_rejects_bad_weights(spark):
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="positive"):
        export.split_by_hash(df, "doc_id", {"a": 0.0})


_LEAK_KNOBS = dict(threshold=0.4, num_hashes=4, bands=2, shingle_n=3)


def _leaks(df, **knobs):
    """The audit: near-dup pairs whose two documents sit in different
    splits."""
    split = {r["doc_id"]: r["split"] for r in df.select("doc_id", "split").collect()}
    return [
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs(df, "doc_id", "text", **knobs).collect()
        if split[r["doc_a"]] != split[r["doc_b"]]
    ]


def _leaky_corpus(spark):
    """Forced-leak corpus with a transitive chain straddling the split:
    0(train)~1(val)~2(val) is ONE cluster (0~2 may miss the threshold);
    4/5 are a clean same-split dup pair; 3 and 6 are singletons."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the morning sun"
    )
    rows = [
        (0, base, "train"),
        (1, base + " today", "val"),
        (2, base + " today and tomorrow", "val"),
        (3, "completely different content about spark shuffles and "
            "partitions and the catalyst optimizer stages", "val"),
        (4, "numbers one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen", "train"),
        (5, "numbers one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen", "train"),
        (6, "a third unrelated document mentioning broadcast joins and "
            "adaptive query execution and shuffle partitions", "train"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, split string")


def test_fix_split_leakage_refold_reaudits_clean(spark):
    """audit → refold → re-audit returns EMPTY, the whole cluster lands in
    the min-id member's split, and untouched docs keep their labels."""
    df = _leaky_corpus(spark)
    assert _leaks(df, **_LEAK_KNOBS)
    fixed = export.fix_split_leakage(
        df, "doc_id", "text", **_LEAK_KNOBS
    )
    assert _leaks(fixed, **_LEAK_KNOBS) == []
    got = {r["doc_id"]: r["split"] for r in fixed.collect()}
    # cluster {0,1,2} folds to doc 0's split; everything else unchanged
    assert got == {
        0: "train", 1: "train", 2: "train",
        3: "val", 4: "train", 5: "train", 6: "train",
    }
    assert fixed.count() == df.count()  # refold never drops rows


def test_fix_split_leakage_end_to_end_with_hash_split(spark, sf_smoke):
    """Fixture-scale composition: id-hash split → refold → audit clean."""
    docs = load_table(spark, sf_smoke, "documents")
    labeled = export.split_by_hash(
        docs, "doc_id", {"train": 0.8, "val": 0.2}, seed=3
    )
    fixed = export.fix_split_leakage(
        labeled, "doc_id", "text", **_LEAK_KNOBS
    )
    assert _leaks(fixed, **_LEAK_KNOBS) == []
    assert fixed.count() == labeled.count()
