"""Property tests: the distributed dedup primitives must agree with direct
single-process models of their definitions (shingling, md5 min-wise MinHash,
LSH banding, Jaccard) on arbitrary inputs — including whitespace pathology,
short documents, and exact duplicates."""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vmware_sd_wan_velocloud_bi_intake_spark.operators.dedup import (
    minhash_signature,
    near_dup_pairs,
)

WORDS = ["spark", "row", "key", "hash", "table", "scan", "the", "a", "fast"]
DOC = st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join)
# inject whitespace pathology: tabs, doubled spaces, leading/trailing blanks
MESSY = DOC.flatmap(
    lambda d: st.sampled_from([d, f"  {d}", f"{d}\t ", d.replace(" ", "  ", 1) if " " in d else d])
)


def model_normalize(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip()


def model_shingles(text: str, n: int = 3) -> set[str]:
    toks = model_normalize(text).split(" ")
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def model_minhash(text: str, num_hashes: int = 4, n: int = 3) -> list[str]:
    sh = model_shingles(text, n)
    return [
        min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
        for i in range(num_hashes)
    ]


def model_jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = model_shingles(a, n), model_shingles(b, n)
    union = sa | sb
    return len(sa & sb) / len(union) if union else 0.0


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(MESSY, min_size=1, max_size=8))
def test_minhash_matches_model(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signature(df, "doc_id", "text", 4, 3).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == model_minhash(d), (i, d)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(DOC, min_size=2, max_size=8))
def test_near_dup_pairs_sound_and_exact_dups_complete(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(
            df, "doc_id", "text", threshold=0.5, num_hashes=4, bands=2, shingle_n=3
        ).collect()
    }
    # soundness: every reported pair's jaccard matches the model and ≥ 0.5
    for (a, b), j in pairs.items():
        assert abs(j - model_jaccard(docs[a], docs[b])) < 1e-12
        assert j >= 0.5
    # completeness for EXACT duplicates: identical normalized content has
    # identical signatures → always shares every band bucket → always found
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if model_normalize(docs[i]) == model_normalize(docs[j]) and model_shingles(docs[i]):
                assert (i, j) in pairs, (docs[i], docs[j])


def test_degenerate_bucket_cap_bounds_pathological_corpus(spark):
    """Adversarial corpus: every document identical (viral boilerplate).

    Without the cap, ONE bucket holds the whole corpus and the pair
    expansion is n² — the 100 TB killer. With it, near_dup_pairs sidelines
    the bucket (bounded work, empty result), and exact dedup still accounts
    for every copy (the survivors contract).
    """
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.dedup import (
        exact_dedup_keys,
    )

    n = 500
    df = spark.createDataFrame(
        [(i, "the same viral boilerplate line " * 4) for i in range(n)],
        "doc_id long, text string",
    )
    params = dict(num_hashes=4, bands=2, shingle_n=3, max_bucket=100)
    pairs = near_dup_pairs(df, "doc_id", "text", threshold=0.5, **params)
    assert pairs.count() == 0  # sidelined, not expanded to n² pairs
    # every member of the degenerate bucket is an exact duplicate -> the
    # exact pass catches all of them
    keys = exact_dedup_keys(df, "doc_id", "text").collect()
    assert len(keys) == 1 and keys[0]["dup_count"] == n
    # and a mixed corpus below the cap is untouched by the guard
    small = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "unrelated text row")],
        "doc_id long, text string",
    )
    got = near_dup_pairs(small, "doc_id", "text", threshold=0.5, **params).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(0, 1)}


def test_incremental_near_dups_match_full_cross_pairs(spark, sf_correct):
    """Splitting the corpus and deduping the new half against the old half's
    persisted index must find exactly the full run's cross-half pairs."""
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.dedup import (
        lsh_bucket_table,
        near_dup_pairs,
        near_dup_pairs_incremental,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table

    docs = load_table(spark, sf_correct, "documents").limit(800).cache()
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    params = dict(threshold=0.3, num_hashes=4, bands=2, shingle_n=3)

    full = near_dup_pairs(docs, "doc_id", "text", **params)
    cross = {
        # full pairs are (min, max); orient as (new_odd, corpus_even)
        (a if a % 2 == 1 else b, b if a % 2 == 1 else a)
        for a, b in (
            (r["doc_a"], r["doc_b"]) for r in full.collect()
        )
        if (a % 2) != (b % 2)
    }

    index = lsh_bucket_table(old, "doc_id", "text", 4, 2, 3)
    inc = near_dup_pairs_incremental(new, index, "doc_id", "text", **params)
    got = {(r["new_doc"], r["corpus_doc"]) for r in inc.collect()}
    assert got == cross
    docs.unpersist()


def test_incremental_cap_mirrors_full_path_on_degenerate_bucket(spark):
    """A viral-boilerplate bucket in the persisted index must be sidelined by
    the SAME combined-membership cap as the full path: without it each new
    doc joins every corpus member of the bucket (the quadratic blowup the
    cap exists for), and full vs incremental results diverge."""
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.dedup import (
        lsh_bucket_table,
        near_dup_pairs,
        near_dup_pairs_incremental,
    )

    n = 300
    viral = "the same viral boilerplate line " * 4
    docs = spark.createDataFrame(
        [(i, viral) for i in range(n)]
        + [(n, "alpha beta gamma delta"), (n + 1, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    params = dict(num_hashes=4, bands=2, shingle_n=3, max_bucket=100)

    full = near_dup_pairs(docs, "doc_id", "text", threshold=0.5, **params)
    cross_full = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]))
        for r in full.collect()
        if (r["doc_a"] % 2) != (r["doc_b"] % 2)
    }

    index = lsh_bucket_table(old, "doc_id", "text", 4, 2, 3)
    inc = near_dup_pairs_incremental(
        new, index, "doc_id", "text", threshold=0.5, **params
    )
    got = {(r["new_doc"], r["corpus_doc"]) for r in inc.collect()}
    # the small pair survives, the viral bucket is sidelined on both paths
    assert got == cross_full == {(n + 1, n)}
    # the writer-maintained summary path must sideline identically: the cap
    # total is corpus_n + batch_n either way (same arithmetic, O(|batch|))
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.dedup import bucket_summary

    inc_sum = near_dup_pairs_incremental(
        new, index, "doc_id", "text", threshold=0.5,
        corpus_summary=bucket_summary(index), **params
    )
    assert {(r["new_doc"], r["corpus_doc"]) for r in inc_sum.collect()} == got
