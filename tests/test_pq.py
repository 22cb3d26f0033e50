"""Product quantization / IVF-PQ (operators/pq.py): encoder parity with the
numpy training model, ADC accuracy, refine reranking, and recall floors on
the isotropic fixture corpus (the hardest case — see
test_similarity_scale.test_ann_recall_floors_vs_brute_force for context on
the absolute numbers)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import pq, similarity
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table

from .test_similarity_scale import _recall_at_k


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    df = load_table(spark, sf_smoke, "embeddings").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def books(emb):
    return pq.train_pq_codebooks(emb, m=8, ksub=16, iters=6)


def test_codebook_shape_and_determinism(emb, books):
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    again = pq.train_pq_codebooks(emb, m=8, ksub=16, iters=6)
    assert books == again  # bit-identical retrain


def test_encode_matches_numpy_argmin(spark, emb, books):
    """The batched-kernel encoder must reproduce np.argmin L2 assignment,
    including the first-minimum tie rule, on every corpus vector."""
    rows = (
        emb.select(
            "vec_id",
            similarity.as_double_array(F.col("embedding")).alias("v"),
        )
        .select("vec_id", "v", pq.pq_encode_expr("v", books).alias("codes"))
        .collect()
    )
    B = [np.asarray(b) for b in books]
    dsub = B[0].shape[1]
    for r in rows:
        v = np.asarray(r["v"])
        v = v / max(np.linalg.norm(v), 1e-12)
        expect = [
            int(np.argmin(((v[s * dsub : (s + 1) * dsub] - B[s]) ** 2).sum(axis=1)))
            for s in range(len(B))
        ]
        assert list(r["codes"]) == expect, r["vec_id"]


def test_adc_score_is_exact_reconstruction_dot(spark, emb, books):
    """Two properties, separated deliberately:

    1. ADC must equal ⟨q/‖q‖, reconstruct(codes)⟩ BIT-exactly (vs a numpy
       replay) — any gap is a scoring bug, not quantization.
    2. Against the TRUE cosine, ADC is only required to correlate strongly.
       On this isotropic corpus the codebook centroids shrink toward the
       subspace means (reconstructed norm ≈ 0.63), deflating absolute
       scores — expected PQ distortion; ranking is what search uses.
       Measured Pearson r ≈ 0.67 over ~15k pairs; clustered real
       embeddings reconstruct far better.
    """
    enc = (
        emb.select(
            F.col("vec_id").alias("vid"),
            similarity.as_double_array(F.col("embedding")).alias("v"),
        )
        .select("vid", "v", pq.pq_encode_expr("v", books).alias("codes"))
    )
    q = (
        emb.limit(30)
        .select(
            F.col("vec_id").alias("qid"),
            similarity.as_double_array(F.col("embedding")).alias("qv"),
        )
        .select("qid", "qv", pq.pq_lut_expr("qv", books).alias("lut"))
    )
    joined = q.join(enc, q.qid != enc.vid).select(
        "codes",
        "qv",
        "v",
        pq.pq_score_expr("codes", "lut", len(books)).alias("adc"),
    )
    B = [np.asarray(b) for b in books]
    adcs, coss = [], []
    for r in joined.collect():
        qv = np.asarray(r["qv"])
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        recon = np.concatenate([B[s][r["codes"][s]] for s in range(len(B))])
        assert abs(float(qn @ recon) - r["adc"]) < 1e-12
        v = np.asarray(r["v"])
        adcs.append(r["adc"])
        coss.append(float(qn @ (v / max(np.linalg.norm(v), 1e-12))))
    corr = float(np.corrcoef(np.array(adcs), np.array(coss))[0, 1])
    assert corr > 0.5, corr  # measured 0.670


def test_ivf_pq_recall_and_refine(spark, emb):
    truth = similarity.cosine_topk_pairs_hof(emb, k=3).collect()
    cents, members_pq, books = pq.ivf_pq_index(emb, m=8, ksub=16, train_iters=6)
    raw = pq.ann_ivf_pq_topk(emb, cents, members_pq, books, k=3, nprobe=4).collect()
    r_adc = _recall_at_k(raw, truth, 3)

    fmembers = emb.select(
        F.col("vec_id").alias("vid"),
        similarity.as_double_array(F.col("embedding")).alias("v"),
    ).withColumn("nrm", similarity.l2_norm(F.col("v")))
    refined = pq.ann_ivf_pq_topk(
        emb, cents, members_pq, books, k=3, nprobe=4, refine=12, members=fmembers
    ).collect()
    r_ref = _recall_at_k(refined, truth, 3)
    print(f"\nIVF-PQ recall@3: adc={r_adc:.3f} refined(12)={r_ref:.3f}")
    # floors measured on the isotropic corpus (adc 0.196, refined 0.387 —
    # the trained float IVF ceiling at nprobe=4 is itself ≈0.55 here, see
    # test_ann_recall_floors_vs_brute_force); clustered data does better.
    # The pipeline is deterministic, so these guard regressions, not luck.
    assert r_adc >= 0.15, r_adc
    assert r_ref >= 0.32, r_ref
    assert r_ref >= r_adc, (r_ref, r_adc)
    # refined scores are exact cosines: every (q, n, score) must agree with
    # the brute-force score for the same pair
    truth_scores = {
        (t["query_id"], t["neighbor_id"]): t["cos_sim"] for t in truth
    }
    for r in refined:
        key = (r["query_id"], r["neighbor_id"])
        if key in truth_scores:
            assert abs(r["score"] - truth_scores[key]) < 1e-9


def test_ivf_pq_validation(spark, emb):
    cents, members_pq, books = pq.ivf_pq_index(emb, m=8, ksub=16, train_iters=2)
    with pytest.raises(ValueError, match="refine requires"):
        pq.ann_ivf_pq_topk(emb, cents, members_pq, books, k=3, refine=5)
    with pytest.raises(ValueError, match="must be >= k"):
        pq.ann_ivf_pq_topk(
            emb, cents, members_pq, books, k=5, refine=3, members=emb
        )
    with pytest.raises(ValueError, match="not divisible"):
        pq.train_pq_codebooks(emb, m=7)


def test_pq_members_carry_codes_not_floats(spark, emb):
    """The index payload claim: members hold m ints + norm, no float array."""
    _, members_pq, books = pq.ivf_pq_index(emb, m=8, ksub=16, train_iters=2)
    assert set(members_pq.columns) == {"cell", "vid", "codes", "nrm"}
    row = members_pq.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])


@pytest.fixture(scope="module")
def clustered(spark, emb):
    """Clustered corpus: pull each vector toward one of 20 fixed unit
    anchors (vec_id mod 20) — the regime real embedding corpora live in,
    and the one where residual encoding pays: residuals concentrate around
    the cell centroid with far less variance than the raw vectors."""
    rng = np.random.default_rng(7)
    A = rng.standard_normal((20, 64))
    A = A / np.linalg.norm(A, axis=1, keepdims=True)
    anchors = F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in A])
    df = emb.select(
        "vec_id",
        F.zip_with(
            similarity.as_double_array(F.col("embedding")),
            F.element_at(anchors, (F.col("vec_id") % 20 + 1).cast("int")),
            lambda v, a: F.lit(0.25) * v + a,
        ).alias("embedding"),
    ).cache()
    df.count()
    yield df
    df.unpersist()


# slow tier (r14 re-tier, VERDICT r13 #2): recall-quality property (not correctness); the encode/ADC equivalence tests stay default
@pytest.mark.slow
def test_residual_encoding_lifts_recall(spark, emb, clustered):
    """The faiss-default IVF-PQ refinement, measured: encoding
    x̂ − centroid(cell) beats encoding x̂ at identical m/ksub/nprobe on the
    clustered corpus (0.170 vs 0.119 recall@3), and never loses on the
    isotropic worst case (0.210 vs 0.196). Deterministic pipeline — floors
    guard regressions, not luck."""

    def recall(corpus, residual):
        truth = similarity.cosine_topk_pairs_hof(corpus, k=3).collect()
        cents, mem, books = pq.ivf_pq_index(
            corpus, m=8, ksub=16, train_iters=6, residual=residual
        )
        got = pq.ann_ivf_pq_topk(
            corpus, cents, mem, books, k=3, nprobe=4, residual=residual
        ).collect()
        return _recall_at_k(got, truth, 3)

    r_plain = recall(clustered, residual=False)
    r_res = recall(clustered, residual=True)
    print(f"\nresidual IVF-PQ recall@3 (clustered): plain={r_plain:.3f} residual={r_res:.3f}")
    assert r_res >= r_plain + 0.03, (r_res, r_plain)
    assert r_res >= 0.15, r_res
    assert recall(emb, residual=True) >= recall(emb, residual=False)


def test_residual_members_same_payload_and_refine_composes(spark, emb):
    """Residual members carry the identical (cell, vid, codes, nrm) payload
    — m ints, no floats — and the exact rerank composes unchanged (refine
    scores are rotation/residual-invariant true cosines)."""
    cents, mem, books = pq.ivf_pq_index(
        emb, m=8, ksub=16, train_iters=2, residual=True
    )
    assert set(mem.columns) == {"cell", "vid", "codes", "nrm"}
    row = mem.first()
    assert len(row["codes"]) == 8 and all(0 <= c < 16 for c in row["codes"])
    fmembers = emb.select(
        F.col("vec_id").alias("vid"),
        similarity.as_double_array(F.col("embedding")).alias("v"),
    ).withColumn("nrm", similarity.l2_norm(F.col("v")))
    truth = similarity.cosine_topk_pairs_hof(emb, k=3).collect()
    truth_scores = {
        (t["query_id"], t["neighbor_id"]): t["cos_sim"] for t in truth
    }
    refined = pq.ann_ivf_pq_topk(
        emb, cents, mem, books, k=3, nprobe=4, refine=12,
        members=fmembers, residual=True,
    ).collect()
    hits = 0
    for r in refined:
        key = (r["query_id"], r["neighbor_id"])
        if key in truth_scores:
            assert abs(r["score"] - truth_scores[key]) < 1e-9
            hits += 1
    assert hits > 0


def test_cell_occupancy_profile_counts(spark, emb):
    cents, members, books = pq.ivf_pq_index(emb, n_cells=8, m=8, ksub=16)
    prof = pq.cell_occupancy_profile(members)
    assert prof["n_vectors"] == emb.count()
    assert prof["n_cells"] <= 8 and prof["n_cells"] >= 1
    assert sum(prof["counts"].values()) == prof["n_vectors"]
    assert 0 < prof["max_frac"] <= 1.0
    assert prof["imbalance"] >= 1.0


def test_occupancy_drift_trips_on_shift_not_in_distribution(spark, emb):
    """The documented retrain monitor: an in-distribution append's cell
    histogram matches the build-time profile (TV ≈ sampling noise, below
    the threshold); a topic-shifted batch concentrates into ill-fitting
    cells and trips it."""
    half = emb.where("vec_id % 2 = 0")
    cents, members, books = pq.ivf_pq_index(half, n_cells=8, m=8, ksub=16)
    baseline = pq.cell_occupancy_profile(members)
    # in-distribution: the held-out half of the SAME corpus
    indist = similarity.ivf_members(emb.where("vec_id % 2 = 1"), cents)
    ok = pq.occupancy_drift(baseline, indist)
    assert not ok["retrain"], ok
    # drifted: every vector pulled hard toward one fixed anchor (a new
    # topic cluster the quantizer never saw)
    rng = np.random.default_rng(3)
    a = rng.standard_normal(64)
    a = a / np.linalg.norm(a)
    anchor = F.array(*[F.lit(float(x)) for x in a])
    shifted = emb.where("vec_id % 2 = 1").select(
        "vec_id",
        F.zip_with(
            similarity.as_double_array(F.col("embedding")),
            anchor,
            lambda v, x: F.lit(0.1) * v + x,
        ).alias("embedding"),
    )
    drifted = similarity.ivf_members(shifted, cents)
    bad = pq.occupancy_drift(baseline, drifted)
    assert bad["retrain"], bad
    assert bad["tv_distance"] > ok["tv_distance"]
    # dict-form baseline (manifest-stored) gives the identical verdict
    again = pq.occupancy_drift(baseline, pq.cell_occupancy_profile(drifted))
    assert again["tv_distance"] == bad["tv_distance"]
    with pytest.raises(ValueError, match="empty"):
        pq.occupancy_drift(
            {"counts": {}, "n_vectors": 0, "n_cells": 0}, baseline
        )


def test_occupancy_drift_survives_json_manifest_roundtrip(spark, emb):
    """The documented workflow stores the build profile in a JSON
    manifest; JSON turns int cell keys into strings, which must not make
    identical distributions look disjoint (TV 1.0, spurious retrain)."""
    import json

    cents, members, books = pq.ivf_pq_index(emb, n_cells=8, m=8, ksub=16)
    prof = pq.cell_occupancy_profile(members)
    stored = json.loads(json.dumps(prof))
    assert all(isinstance(k, str) for k in stored["counts"])  # the hazard
    d = pq.occupancy_drift(stored, prof)
    assert d["tv_distance"] == 0.0 and not d["retrain"], d


@pytest.mark.parametrize(
    "seed",
    [23, pytest.param(47, marks=pytest.mark.slow)],  # two-tier rule
)
def test_sim_ann_ivf_pq_riders_oracle_on_random_corpus(
    spark, tmp_path, seed
):
    """The r13 catalog riders (nbr_pq_codes / adc_cos_r6) against the full
    in-catalog DuckDB replay on a seeded random d=64 corpus (Gaussian
    clusters + exact-duplicate vectors) — the 'green at any fixture' claim
    for the ported per-subspace Lloyd replay, same discipline as the r12
    component/LM rider random-corpus tests."""
    from vmware_sd_wan_velocloud_bi_intake_spark.queries.textvec import (
        SIM_IVF_ORACLE,
        sim_ann_ivf,
    )

    import duckdb

    rng = np.random.RandomState(seed)
    d = 64  # the catalog oracle replays the fixture dimension
    centers = rng.randn(4, d) * 2.0
    vecs = [centers[rng.randint(4)] + rng.randn(d) * 0.5 for _ in range(40)]
    vecs += [vecs[rng.randint(len(vecs))].copy() for _ in range(8)]
    ids = rng.permutation(len(vecs)) * 2 + 1
    rows = [
        (int(i), [float(x) for x in v.astype(np.float32)])
        for i, v in zip(ids, vecs)
    ]
    sf = tmp_path / f"sf_pqrider{seed}"
    sf.mkdir()
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(str(sf / "embeddings.parquet"))

    got = {
        tuple(r)
        for r in sim_ann_ivf(spark, str(sf))
        .select(
            "query_id", "neighbor_id", "cos_sim_r6", "rk",
            "nbr_pq_codes", "adc_cos_r6",
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM parquet_scan('{sf}/embeddings.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(SIM_IVF_ORACLE).fetchall()}
    assert len(got) > 0
    # the corpus must exercise the rider: multiple distinct code words
    assert len({r[4] for r in got}) > 1, "degenerate single-code corpus"
    assert got == want


def test_encode_lut_fused_matches_standalone(spark, emb, books):
    """r13: sim_ann_ivf's fused single-Arrow-pass rider expression
    (pq_encode_lut_expr) must be BIT-identical, field by field, to the
    standalone pq_encode_expr / pq_lut_expr pair it replaced — the fold
    is an execution-shape optimization (2 Arrow passes + 2 broadcast
    builds → 1 reused), never a semantics change."""
    base = emb.select(
        F.col("vec_id").alias("vid"),
        similarity.as_double_array(F.col("embedding")).alias("v"),
    )
    fused = {
        r["vid"]: (list(r["cl"]["codes"]), [list(t) for t in r["cl"]["lut"]])
        for r in base.select(
            "vid", pq.pq_encode_lut_expr("v", books, round_decimals=6).alias("cl")
        ).collect()
    }
    codes = {
        r["vid"]: list(r["c"])
        for r in base.select(
            "vid", pq.pq_encode_expr("v", books, round_decimals=6).alias("c")
        ).collect()
    }
    luts = {
        r["vid"]: [list(t) for t in r["l"]]
        for r in base.select(
            "vid", pq.pq_lut_expr("v", books).alias("l")
        ).collect()
    }
    assert set(fused) == set(codes) == set(luts) and fused
    for vid, (fc, fl) in fused.items():
        assert fc == codes[vid], vid
        assert fl == luts[vid], vid
