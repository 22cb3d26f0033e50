"""Product quantization (PQ) for embedding search — the IVF-PQ scale path.

At 100 TB a float corpus is the ANN bottleneck: 64 × float32 per vector is
256 bytes that must live in the index and cross every probe's shuffle. PQ
stores ``m`` one-byte codes instead (32× smaller at m=8): split each
(normalized) vector into ``m`` subvectors, k-means a ``ksub``-entry codebook
per subspace, and encode each subvector as its nearest code. Queries score
candidates with ADC (asymmetric distance computation): one ``m × ksub``
lookup table of exact query-to-code dot products per query, then each
member's approximate cosine is ``m`` table lookups — no per-member float
math at all.

Division of labor (the faiss discipline, same as operators/similarity.py):
- **Training** is driver-side numpy on a bounded deterministic sample
  (md5-ordered head, ``sample_rows`` cap) — codebooks are ``m·ksub·dsub``
  doubles shipped in the UDF closure.
- **Encode and LUT** are Arrow-batched vectorized UDFs — dense subspace
  matmuls, the case the engine's ground rules assign to batched numpy
  (see the measured why on :func:`pq_encode_expr`: both pure-expression
  forms lose — interpreted HOF folds per row, or Catalyst re-optimizing
  multi-thousand-node unrolled trees per action).
- **Per-candidate ADC scoring stays JVM-side** (:func:`pq_score_expr`,
  ``m`` nested array lookups) — the (query × candidate) hot path never
  crosses into Python.
- **Search** composes with the IVF index from operators/similarity.py:
  probe ``nprobe`` cells, ADC-score only those cells' members, optionally
  exact-rerank the top ``refine`` ADC candidates against the full vectors
  (touching refine × |queries| float rows, not the corpus).

No reference analog (beyond-reference LLM-pipeline surface).
"""

from __future__ import annotations

import math

# module-level so pandas_udf string type hints (PEP 563 via `from
# __future__ import annotations`) resolve in this module's globals
import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import as_double_array, dot, l2_norm


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    iters: int = 10,
    sample_rows: int = 16384,
    normalize: bool = True,
    round_decimals: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks from a bounded deterministic sample.

    Vectors are L2-normalized before splitting (spherical corpus contract —
    ADC dot sums then approximate cosine). Returns ``m`` codebooks of
    ``ksub`` centroids of ``d/m`` doubles. Deterministic: md5-ordered
    sample, first-``ksub`` init, first-minimum ties (np.argmin).

    ``normalize=False`` trains on the vectors exactly as given — the
    residual path (:func:`ivf_pq_index` ``residual=True``) feeds already-
    normalized-then-centered residuals whose magnitude IS the signal.

    ``round_decimals`` switches to QUANTIZED training, the
    :func:`~.similarity.train_centroids` contract applied per subspace:
    the init slices, every assignment distance, and every recentred
    coordinate are rounded (``spark_round_array`` — Spark's HALF_UP repr
    rule), so each step depends only on rounded values and a replay in
    any engine (unrolled SQL in ``sim_ann_ivf``'s DuckDB oracle) reproduces
    the books exactly — ulp-level accumulation differences are absorbed
    instead of compounding across iterations.
    """
    from .similarity import spark_round_array

    pdf = (
        emb.select(
            F.col(vec_id).alias("vid"),
            as_double_array(F.col(embedding)).alias("v"),
        )
        .orderBy(F.md5(F.col("vid").cast("string")), F.col("vid"))
        .limit(sample_rows)
        .toPandas()
    )
    X = np.stack(pdf["v"].to_numpy())
    if normalize:
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    books: list[list[list[float]]] = []
    for s in range(m):
        S = X[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, len(S))
        C = S[:k].copy()
        if round_decimals is not None:
            C = spark_round_array(C, round_decimals)
        for _ in range(iters):
            # L2 assignment; np.argmin keeps the FIRST minimum on ties —
            # the expression encoder reproduces exactly this rule
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            if round_decimals is not None:
                d2 = spark_round_array(d2, round_decimals)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    mean = members.mean(axis=0)
                    if round_decimals is not None:
                        mean = spark_round_array(mean, round_decimals)
                    C[c] = mean
                # empty codes keep their previous centroid
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_encode_expr(
    v: str,
    codebooks: list[list[list[float]]],
    normalize: bool = True,
    round_decimals: int | None = None,
) -> Column:
    """array<int> of per-subspace nearest-code ids for the raw vector
    column named ``v`` — an Arrow-batched vectorized UDF.

    This is the one PQ stage that is dense linear algebra over every
    corpus row (normalize, per-subspace ‖sub − c_j‖² against the whole
    codebook, argmin), which is exactly the case the engine's ground rules
    assign to batched numpy (SCALE.md: "dense matmul"; precedent: the
    brute-force kNN block matmul). Two pure-expression implementations
    were built and measured first on 2,000 × 64-dim vectors:

    - HOF-fold form: lambdas evaluate interpreted — ~9 ms/row, 18.7 s to
      encode the corpus;
    - fully unrolled literal-coefficient form (built as one SQL string to
      dodge the py4j per-node cost): executes fine, but the ~2–4k-node
      expression trees cost Catalyst seconds of DRIVER time on every
      action the plan participates in — a constant that does not amortize
      because re-optimization happens per action, and grows with m·ksub·d.

    The batched-numpy kernel is ~µs/row, keeps the plan tiny (one UDF
    node), and uses np.argmin directly — the same first-minimum tie rule
    the trainer uses, pinned by the parity test. Per-candidate ADC scoring
    stays JVM-side (:func:`pq_score_expr`); only the once-per-corpus-row
    encode and once-per-probe LUT cross into Arrow.
    """
    from pyspark.sql.functions import pandas_udf

    from .similarity import spark_round_array

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = B[0].shape[1]
    rd = round_decimals

    @pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        if normalize:
            X = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-300
            )
        codes = np.empty((len(X), len(B)), dtype=np.int32)
        for s, Cs in enumerate(B):
            S = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((S[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2)
            if rd is not None:
                # quantized encode (pairs with train_pq_codebooks'
                # round_decimals): the argmin sees only rounded
                # distances, so a cross-engine replay cannot flip a
                # code on ulp-level accumulation differences
                d2 = spark_round_array(d2, rd)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return enc(F.col(v))


def pq_lut_expr(v: str, codebooks: list[list[list[float]]]) -> Column:
    """Per-query ADC lookup table for the raw query-vector column named
    ``v``: array m × ksub of ⟨q_sub, code⟩ dots — the same batched-numpy
    rationale as :func:`pq_encode_expr` (one subspace-matmul per Arrow
    batch). Built once per probed query row, amortized over every
    candidate it scores.
    """
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = B[0].shape[1]

    @pandas_udf("array<array<double>>")
    def lut(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        # (n, m, ksub): one GEMM per subspace over the whole batch
        tables = np.stack(
            [X[:, s * dsub : (s + 1) * dsub] @ Cs.T for s, Cs in enumerate(B)],
            axis=1,
        )
        return pd.Series([[list(row) for row in t] for t in tables])

    return lut(F.col(v))


def pq_encode_lut_expr(
    v: str,
    codebooks: list[list[list[float]]],
    round_decimals: int | None = None,
) -> Column:
    """struct<codes, lut> — :func:`pq_encode_expr` and :func:`pq_lut_expr`
    fused into ONE Arrow pass over the vector column (r13 optimization:
    a consumer that needs both — sim_ann_ivf enriches every corpus row
    with its codes for the neighbor side AND its LUT for the query side —
    previously built two scan→exchange→ArrowEvalPython→broadcast
    subtrees over the same relation; one combined relation joined twice
    lets Spark's exchange reuse build it once). The two fields are
    bit-identical to the standalone expressions: same normalize, same
    rounded-argmin encode, same per-subspace GEMM — pinned by
    tests/test_pq.py::test_encode_lut_fused_matches_standalone."""
    from pyspark.sql.functions import pandas_udf

    from .similarity import spark_round_array

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = B[0].shape[1]
    rd = round_decimals

    @pandas_udf("struct<codes:array<int>,lut:array<array<double>>>")
    def enc_lut(vs: pd.Series) -> pd.DataFrame:
        X = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        codes = np.empty((len(X), len(B)), dtype=np.int32)
        tables = []
        for s, Cs in enumerate(B):
            S = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((S[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2)
            if rd is not None:
                d2 = spark_round_array(d2, rd)
            codes[:, s] = np.argmin(d2, axis=1)
            tables.append(S @ Cs.T)
        luts = np.stack(tables, axis=1)  # (n, m, ksub)
        return pd.DataFrame(
            {
                "codes": list(codes),
                "lut": [[list(row) for row in t] for t in luts],
            }
        )

    return enc_lut(F.col(v))


def pq_score_expr(codes: str, lut: str, m: int) -> Column:
    """Approximate cosine: Σ_m lut[m][codes[m]] — ``m`` unrolled nested
    array lookups per candidate, zero per-candidate float math and zero
    lambdas (this expression runs once per (query, candidate) pair — the
    hottest site in the whole search). ``codes``/``lut`` are column names.
    """
    terms = [
        f"element_at(element_at({lut}, {s + 1}), element_at({codes}, {s + 1}) + 1)"
        for s in range(m)
    ]
    return F.expr(" + ".join(terms))


def _residualize(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """(cell, vid, nrm, r) with r = x̂ − centroid(cell) — the IVF-PQ
    residual projection."""
    res_col = F.zip_with(
        F.transform(
            F.col("v"),
            lambda x: x / F.greatest(F.col("nrm"), F.lit(1e-12)),
        ),
        F.col("cv"),
        lambda a, b: a - b,
    )
    return assigned.join(F.broadcast(cents), "cell").select(
        "cell", "vid", "nrm", res_col.alias("r")
    )


def ivf_pq_index(
    emb: DataFrame,
    n_cells: int | None = None,
    m: int = 8,
    ksub: int = 16,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    train_iters: int = 10,
    residual: bool = False,
    round_decimals: int | None = None,
) -> tuple[DataFrame, DataFrame, list[list[list[float]]]]:
    """Build (centroids, pq_members, codebooks).

    pq_members = (cell, vid, codes, nrm) — ``m`` small ints + the original
    norm per vector instead of the float payload; write it bucketed on
    ``cell`` like the float IVF index. Cell assignment uses the trained
    spherical-k-means coarse quantizer from operators/similarity.

    ``residual=True`` is the standard IVF-PQ refinement (faiss's default
    ``IndexIVFPQ`` behavior): encode ``x̂ − centroid(cell)`` instead of
    ``x̂``. Residuals concentrate near the origin with far less variance
    than raw vectors, so the same ``m × ksub`` codebook budget quantizes
    them much more finely; search adds the analytically-known ⟨q̂, c⟩ back
    per probed cell (one dot per (query, probe) pair, never per
    candidate). Codebooks train on residuals of the bounded sample, so
    the training funnel is unchanged. Pass ``residual=True`` to
    :func:`ann_ivf_pq_topk` as well — codes from the two spaces are not
    interchangeable.
    """
    from .similarity import _assign_cells, train_centroids

    base = emb.select(
        F.col(vec_id).alias("vid"),
        as_double_array(F.col(embedding)).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    if n_cells is None:
        # sizing needs only a row count — cache nothing: the returned
        # `members` plan is lazy and materializes AFTER this call returns
        # (typically by the index write), so a persist scoped to this
        # builder would be released before anything reused it and pay a
        # full corpus cache materialization for one count
        n_cells = max(8, math.ceil(math.sqrt(emb.select(vec_id).count())))
    cents = train_centroids(
        emb,
        n_cells,
        vec_id=vec_id,
        embedding=embedding,
        iters=train_iters,
        round_decimals=round_decimals,
    )
    assigned = _assign_cells(base, cents, round_decimals=round_decimals)
    if not residual:
        books = train_pq_codebooks(
            emb, m=m, ksub=ksub, vec_id=vec_id, embedding=embedding,
            iters=train_iters, round_decimals=round_decimals,
        )
        members = assigned.select(
            "cell",
            "vid",
            pq_encode_expr("v", books, round_decimals=round_decimals).alias(
                "codes"
            ),
            "nrm",
        )
        return cents, members, books
    # residual space: r = x̂ − c(cell), computed JVM-side (normalize +
    # zip_with fuse into the assignment projection; the centroid join
    # is the same broadcast _assign_cells already did)
    with_res = _residualize(assigned, cents)
    books = train_pq_codebooks(
        with_res, m=m, ksub=ksub, vec_id="vid", embedding="r",
        iters=train_iters, normalize=False, round_decimals=round_decimals,
    )
    members = with_res.select(
        "cell",
        "vid",
        pq_encode_expr(
            "r", books, normalize=False, round_decimals=round_decimals
        ).alias("codes"),
        "nrm",
    )
    return cents, members, books


def ann_ivf_pq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    pq_members: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 1,
    refine: int | None = None,
    members: DataFrame | None = None,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ search: probe cells, ADC-score codes, optional exact rerank.

    Returns (query_id, neighbor_id, score, rk) where ``score`` is the ADC
    approximate cosine — or the exact cosine when ``refine`` is set (the
    top ``refine`` ADC candidates per query re-scored against the float
    vectors in ``members`` (vid, v, nrm); refine ≥ k required).

    Set ``residual=True`` iff the index was built with it: the ADC sum then
    scores the RESIDUAL reconstruction, and ⟨q̂, centroid⟩ — already known
    analytically per probed cell — is added back once per (query, probe)
    pair, so the per-candidate hot path is unchanged (still ``m`` lookups).

    Shuffle shape: centroid broadcast → nprobe cells per query; the member
    join is keyed by cell (bucketed members ⇒ no corpus-side exchange);
    candidate rows carry ``m`` ints, not d floats, so the probe shuffle is
    ~32× lighter than float IVF at m=8 — the reason PQ is the 100 TB form.
    """
    if refine is not None:
        if members is None:
            raise ValueError("refine requires the float members relation")
        if refine < k:
            raise ValueError(f"refine={refine} must be >= k={k}")
    q = queries.select(
        F.col(vec_id).alias("query_id"),
        as_double_array(F.col(embedding)).alias("qv"),
    ).withColumn("qnrm", l2_norm(F.col("qv")))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell")
    )
    probed = (
        q.join(F.broadcast(centroids))
        .withColumn(
            "cell_cos",
            dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")),
        )
        .withColumn("prn", F.row_number().over(probe_w))
        .where(F.col("prn") <= nprobe)
        # LUT materializes here, below the member join — once per
        # (query, probe) row, never per candidate (a UDF Project cannot be
        # collapsed across the join). cbase = ⟨q̂, c⟩ rides along the same
        # row for the residual form (cell_cos·cnrm un-normalizes the
        # centroid side only).
        .select(
            "query_id",
            "qv",
            pq_lut_expr("qv", codebooks).alias("lut"),
            "cell",
            (F.col("cell_cos") * F.col("cnrm")).alias("cbase"),
        )
    )
    adc = pq_score_expr("codes", "lut", len(codebooks))
    scored = (
        probed.join(pq_members, "cell")
        .where(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            "qv",
            F.col("vid").alias("neighbor_id"),
            ((F.col("cbase") + adc) if residual else adc).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    limit = refine if refine is not None else k
    top = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= limit)
    )
    if refine is None:
        return top.select("query_id", "neighbor_id", "score", "rk")
    exact = top.join(
        members.select(F.col("vid").alias("neighbor_id"), "v", "nrm"),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("qv"), F.col("v"))
            / (F.greatest(l2_norm(F.col("qv")), F.lit(1e-12)) * F.col("nrm"))
        ).alias("score"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score", "rk")
    )


def cell_occupancy_profile(members: DataFrame) -> dict:
    """Per-cell occupancy of an IVF(-PQ) members relation, plus the skew
    statistics a drift monitor reads.

    Returns ``{"n_vectors", "n_cells", "counts": {cell: n}, "max_frac"
    (hottest cell's share), "imbalance" (max/mean occupancy — 1.0 is
    perfectly balanced)}``. One count aggregation, n_cells rows to the
    driver — bounded by the quantizer size, never the corpus.
    """
    rows = members.groupBy("cell").agg(F.count("*").alias("n")).collect()
    counts = {int(r["cell"]): int(r["n"]) for r in rows}
    total = sum(counts.values())
    n_cells = len(counts)
    max_n = max(counts.values(), default=0)
    mean = total / n_cells if n_cells else 0.0
    return {
        "n_vectors": total,
        "n_cells": n_cells,
        "counts": counts,
        "max_frac": (max_n / total) if total else 0.0,
        "imbalance": (max_n / mean) if mean else 0.0,
    }


def occupancy_drift(
    baseline: "dict | DataFrame",
    batch: "dict | DataFrame",
    *,
    retrain_threshold: float = 0.25,
) -> dict:
    """Distribution drift of an appended batch vs the index's build-time
    occupancy.

    Appends assign at quantizers trained before the batch existed; when
    the batch's data distribution shifts, its coarse-cell histogram
    diverges from the corpus's (new-topic mass piles into a few
    ill-fitting cells). The statistic is total-variation distance between
    the two normalized cell histograms — ``0.5 · Σ|p_c − q_c|`` over the
    union of cells, in [0, 1], robust to batch size. ``retrain`` is True
    when it exceeds ``retrain_threshold``.

    Threshold guidance: in-distribution appends measure TV ≈ sampling
    noise (≤~0.1 for batches of a few hundred at 32 cells — tested);
    topic-shifted batches concentrate mass and clear 0.25 easily. TV is a
    RETRAIN signal, not a correctness gate — appended vectors stay
    searchable either way, recall just decays with drift.

    Both arguments accept a members DataFrame or a precomputed
    :func:`cell_occupancy_profile` dict (store the build-time profile in
    the index manifest and pass it here without touching the corpus).
    """
    if not isinstance(baseline, dict):
        baseline = cell_occupancy_profile(baseline)
    if not isinstance(batch, dict):
        batch = cell_occupancy_profile(batch)
    # JSON manifests round-trip dict keys as STRINGS; without
    # normalization a stored baseline's cells {'0','1'} and a live
    # batch's {0,1} look disjoint and TV saturates at 1.0 — a spurious
    # retrain on every in-distribution append
    p = {int(c): int(n) for c, n in baseline["counts"].items()}
    q = {int(c): int(n) for c, n in batch["counts"].items()}
    np_, nq = baseline["n_vectors"], batch["n_vectors"]
    if np_ == 0 or nq == 0:
        raise ValueError("occupancy_drift: empty baseline or batch profile")
    cells = set(p) | set(q)
    tv = 0.5 * sum(
        abs(p.get(c, 0) / np_ - q.get(c, 0) / nq) for c in cells
    )
    return {
        "tv_distance": tv,
        "retrain": tv > retrain_threshold,
        "retrain_threshold": retrain_threshold,
        "baseline_cells": baseline["n_cells"],
        "batch_cells": batch["n_cells"],
    }
