"""Connected-components over duplicate-pair graphs vs a union-find oracle.

The Spark implementation is distributed label propagation
(hash-min + pointer jumping); the oracle is a direct single-process
union-find over the same edge list — independent algorithm, same answer.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import dedup


def union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """vertex -> min vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def spark_components(
    spark, edges: list[tuple[int, int]], cap: int = 100_000
) -> dict[int, int]:
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = dedup.duplicate_components(df, small_graph_cap=cap).collect()
    return {r["doc_id"]: r["component"] for r in out}


def _survivors(docs, pairs):
    """One surviving doc_id per duplicate cluster — its component's minimum
    id — plus every doc in no pair (the curation plan's anti-join)."""
    comp = dedup.duplicate_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.select("doc_id").join(losers, "doc_id", "left_anti")


# cap=100_000 exercises the r13 collected union-find arm at these sizes;
# cap=0 forces the distributed label-propagation loop — both must agree
# with the oracle on every shape
@pytest.mark.parametrize("cap", [100_000, 0], ids=["small-graph", "forced-dist"])
@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2)],
        [(1, 2), (2, 3), (3, 4)],  # chain → one cluster labeled 1
        [(10, 11), (20, 21), (30, 31)],  # disjoint pairs
        [(5, 1), (5, 2), (5, 3), (5, 4)],  # star, hub not the min
        [(2, 1), (4, 3), (3, 2)],  # merge through a late edge
        [(7, 7), (8, 9)],  # self-loop degenerate
    ],
)
def test_components_match_union_find(spark, edges, cap):
    assert spark_components(spark, edges, cap) == union_find_components(edges)


# slow tier (r14 re-tier, VERDICT r13 #2): VERDICT r13 #2 move (components random corpora): cross-arm equality on deterministic graphs stays default
@pytest.mark.slow
def test_components_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(400))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
    ]
    want = union_find_components(edges)
    # both physical strategies, same fixpoint: the collected arm, the
    # forced-distributed loop, and a cap BELOW the edge count (truncated
    # size probe → honest fallback to the distributed loop)
    assert spark_components(spark, edges) == want
    assert spark_components(spark, edges, cap=0) == want
    assert spark_components(spark, edges, cap=5) == want


def test_long_chain_converges_within_log_rounds(spark):
    # pointer jumping must handle a diameter-100 path without O(diameter)
    # rounds: max_iters=12 > log2(101) + slack, far below 100
    # (small_graph_cap=0 forces the distributed loop this test pins)
    edges = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = dedup.duplicate_components(
        df, max_iters=12, small_graph_cap=0
    ).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == 101


def test_component_survivors_stable_under_chains(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    # chain 1~2~3 plus pair 5~4 written "backwards": directional doc_b
    # dropping would keep {1, 5}; cluster-canonical keeps {1, 4}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in _survivors(docs, pairs).collect()
    )
    assert kept == [1, 4, 6]


def test_survivors_over_real_near_dup_pairs(spark, sf_smoke):
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    pairs = dedup.near_dup_pairs(
        docs, "doc_id", "text", threshold=0.4, num_hashes=4, bands=2, shingle_n=3
    )
    edge_list = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edge_list, "fixture should contain near-dup pairs"
    oracle = union_find_components(edge_list)
    losers = {v for v, c in oracle.items() if v != c}
    expected = sorted(
        r["doc_id"]
        for r in docs.select("doc_id").collect()
        if r["doc_id"] not in losers
    )
    kept = sorted(
        r["doc_id"]
        for r in _survivors(docs, pairs).collect()
    )
    assert kept == expected


def test_unconverged_graph_raises(spark):
    # the cap guard only exists on the distributed loop — force it
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="no convergence"):
        dedup.duplicate_components(df, max_iters=1, small_graph_cap=0)


def test_dedup_survivors_component_riders_match_union_find(spark, sf_smoke):
    """The catalog vehicle's r12 rider columns (component_id /
    component_size) against the union-find oracle over the same
    verified-pair graph — the in-catalog DuckDB recursive CTE and this
    test pin the rider from two independent directions."""
    from vmware_sd_wan_velocloud_bi_intake_spark.queries.textvec import (
        dedup_survivors,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    pairs = dedup.near_dup_pairs(
        docs, "doc_id", "text", threshold=0.4, num_hashes=4, bands=2, shingle_n=3
    )
    comp = union_find_components(
        [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    )
    sizes: dict[int, int] = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    out = dedup_survivors(spark, sf_smoke).collect()
    assert any(r["component_size"] > 1 for r in out), "fixture has clusters"
    for r in out:
        d = r["doc_id"]
        assert r["component_id"] == comp.get(d, d)
        assert r["component_size"] == sizes.get(comp.get(d, d), 1)


def test_trivially_converged_graphs_at_max_iters_one(spark):
    """The round-1 probe skip must not manufacture a 'no convergence'
    error for graphs that converge in zero rounds when there is no
    round 2 to catch them (review finding r12)."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    selfp = spark.createDataFrame([(3, 3), (9, 9)], "doc_a long, doc_b long")
    for cap in (100_000, 0):  # collected arm AND the probe-skip loop guard
        assert (
            dedup.duplicate_components(
                empty, max_iters=1, small_graph_cap=cap
            ).count()
            == 0
        )
        out = {
            r["doc_id"]: r["component"]
            for r in dedup.duplicate_components(
                selfp, max_iters=1, small_graph_cap=cap
            ).collect()
        }
        assert out == {3: 3, 9: 9}


@pytest.mark.parametrize(
    "seed",
    [13, pytest.param(37, marks=pytest.mark.slow)],  # two-tier rule
)
def test_dedup_survivors_oracle_on_random_corpora(spark, tmp_path, seed):
    """The full vehicle (exact keys + near-dup losers + span stats + the
    r12 component riders) against its recursive-CTE DuckDB oracle on
    seeded random corpora dense with exact dups and mutation chains —
    the 'green at any fixture' claim for the rider's transitive-closure
    replay, same discipline as the stream-oracle random corpora."""
    import duckdb
    import numpy as np

    from vmware_sd_wan_velocloud_bi_intake_spark.queries.textvec import (
        DEDUP_SURVIVORS_ORACLE,
        dedup_survivors,
    )

    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs: list[list[str]] = []
    for _ in range(10):  # seed docs
        docs.append(list(rng.choice(vocab, size=14)))
    for _ in range(30):  # mutation chains -> transitive clusters
        base = list(docs[rng.randint(len(docs))])
        for _ in range(rng.randint(0, 4)):  # 0 mutations = exact dup
            base[rng.randint(len(base))] = vocab[rng.randint(len(vocab))]
        docs.append(base)
    ids = rng.permutation(len(docs)) * 3 + 1
    rows = [(int(i), " ".join(d)) for i, d in zip(ids, docs)]
    sf = tmp_path / f"sf_comp{seed}"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(sf / "documents.parquet"))

    got = {
        tuple(r)
        for r in dedup_survivors(spark, str(sf))
        .select(
            "doc_id", "dedup_key", "dup_count", "component_id",
            "component_size", "n_dup_spans", "span_tokens_cut", "clean_len",
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM parquet_scan('{sf}/documents.parquet/*.parquet')"
    )
    cols = ("doc_id, dedup_key, dup_count, component_id, component_size, "
            "n_dup_spans, span_tokens_cut, clean_len")
    want = {
        tuple(r)
        for r in con.execute(
            f"SELECT {cols} FROM ({DEDUP_SURVIVORS_ORACLE})"
        ).fetchall()
    }
    assert len(got) > 0
    # the corpus must actually exercise the rider: some multi-vertex
    # cluster and some surviving doc labeled by a different min vertex
    assert any(r[4] > 1 for r in got), "no transitive cluster generated"
    assert got == want
