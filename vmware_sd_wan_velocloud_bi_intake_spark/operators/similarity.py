"""Embedding similarity search: brute-force cosine top-k + trained IVF ANN.

Beyond-reference surface (SURVEY.md §7 step 10) over the ``embeddings`` table
(``vec_id bigint, embedding array<float>, label int``).

Scale design:
- **Brute force** is the correctness baseline: an O(n·m) join. For a bounded
  query set vs. a huge corpus the query side is broadcast, so the corpus is
  scanned once with no shuffle; top-k per query via window ranking with
  partial aggregation.
- **IVF** is the scale path: a sample-trained coarse quantizer
  (:func:`train_centroids`) assigns every vector to one cell, and search
  runs inside cells only, turning the quadratic pair space into Σ cell².
  ``operators/pq.py`` adds product-quantized codes on the same cells.
- All dot products run as ``zip_with``/``aggregate`` over ``double`` arrays —
  JVM expressions, no Python. float→double upcast is exact, and a fixed
  left-to-right fold order makes results bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def spark_round_array(a, round_decimals: int):
    """numpy array rounding that matches Spark ``F.round`` EXACTLY.

    F.round converts the double via its SHORTEST DECIMAL REPR
    (BigDecimal.valueOf = Double.toString) and rounds that HALF_UP;
    np.round is half-even AND rounds the binary value — both differences
    flip results near .5 boundaries (e.g. 0.0001245: repr says ...45 →
    HALF_UP 0.000125, but the binary scaled value 124.4999… floors to
    0.000124). Fast path: binary half-away-from-zero; values within 1e-9
    of a scaled .5 boundary (repr-vs-binary gaps are ≤ ~1e-10 there) are
    re-rounded through Decimal(repr(x)) — Python repr is the same shortest
    round-trip decimal as Double.toString, so the correction IS Spark's
    rule. Shared by every driver-side replay of a quantized Spark
    computation (Lloyd training, logistic-regression GD).
    """
    import decimal

    import numpy as np

    scale = 10.0 ** round_decimals
    scaled = a * scale
    out = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5) / scale
    frac = np.abs(scaled) - np.floor(np.abs(scaled))
    near = np.abs(frac - 0.5) < 1e-9
    if near.any():
        q = decimal.Decimal(1).scaleb(-round_decimals)
        flat_a, flat_o = a.reshape(-1), out.reshape(-1)
        for i in np.flatnonzero(near.reshape(-1)):
            flat_o[i] = float(
                decimal.Decimal(repr(float(flat_a[i]))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )
    return out


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order ⇒ bit-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk_pairs(
    emb: DataFrame,
    k: int = 5,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    queries: DataFrame | None = None,
    block_rows: int = 65536,
) -> DataFrame:
    """Top-k nearest neighbors per query vector by cosine similarity.

    Blocked-corpus brute force — the shape that survives an unbounded corpus
    (the previous form collected the WHOLE corpus to the driver, a funnel
    that dies long before 100 TB):

    1. The corpus is hash-split into ``⌈n / block_rows⌉`` blocks and cached;
       only ONE block (≤ ~``block_rows`` vectors) is ever resident on the
       driver, as a dense float64 matrix, and each is broadcast in turn.
    2. Query partitions stream past each block with one vectorized BLAS
       matmul per Arrow batch, emitting that block's top-k per query —
       a map-only stage per block, no pair-space shuffle.
    3. Per-block partials union and an associative keyed merge (window
       ``row_number`` over query_id, the standard top-k combine) keeps the
       global k. Merge input is |queries| × blocks × k rows — tiny.

    Driver-resident memory is bounded by contract: a collected block that
    exceeds 4× the target (hash skew cannot plausibly produce this) raises
    rather than silently funneling. When even per-block relay through the
    driver is too much (truly unbounded both sides), use
    ``ann_ivf_topk_trained`` — brute force at that scale is the wrong
    operator.

    Lifecycle: the per-block broadcasts live until the returned DataFrame is
    garbage-collected (they back its lazy partials) — a long-lived service
    looping over corpora should drop references promptly (Spark's
    ContextCleaner then reclaims them) or call ``ann_ivf_topk_trained``
    instead.
    With more than one block the query side is ``persist()``-ed (each block
    contributes a mapInPandas stage over it — without the cache the query
    scan repeats once per block); it stays cached until the caller
    unpersists or the LRU store evicts it, same lifecycle as the broadcasts.

    ``queries`` defaults to the corpus itself (all-pairs kNN, self excluded).
    Returns (query_id, neighbor_id, cos_sim, rk), rk 1-based with
    neighbor_id tiebreak.
    """
    from functools import reduce

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    corpus = emb.select(
        F.col(vec_id).alias("neighbor_id"),
        as_double_array(F.col(embedding)).alias("v"),
    )
    n = corpus.count()
    n_blocks = max(1, -(-n // block_rows))
    if n_blocks > 1:
        corpus = corpus.withColumn(
            "_blk", F.pmod(F.hash("neighbor_id"), F.lit(n_blocks))
        )
        corpus.persist()  # one corpus scan total, not one per block

    qside = (queries if queries is not None else emb).select(
        F.col(vec_id).alias("query_id"),
        as_double_array(F.col(embedding)).alias("qv"),
    )
    if n_blocks > 1:
        qside.persist()  # scanned once per block otherwise (see docstring)
    kk = k
    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def block_topk(bc):
        def gen(batches):
            ids_b, mat_b, norm_b = bc.value
            n = len(ids_b)
            # Bound the (chunk × block) score matrix at ~32 MB per worker:
            # the Arrow batch size is the planner's throughput choice, not a
            # memory contract — an unchunked 10k-row batch against a 64k
            # block is a 5 GB matrix per worker, which is exactly the
            # 64×-scale OOM the scale_check caught (SCALE.md).
            chunk = max(1, 4_000_000 // max(n, 1))
            # EVERY occurrence of an id (a re-ingested corpus can hold the
            # same vec_id twice in one block — last-position-only would
            # emit the query's own duplicate as a cos≈1 neighbor)
            pos_of: dict = {}
            for j, v in enumerate(ids_b):
                pos_of.setdefault(int(v), []).append(j)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for s in range(0, len(pdf), chunk):
                    sub = pdf.iloc[s : s + chunk]
                    q_ids = sub["query_id"].to_numpy(dtype="int64")
                    q_mat = np.stack(sub["qv"].to_numpy())
                    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
                    sims = (q_mat @ mat_b.T) / np.outer(q_norm, norm_b)
                    # self-matches → -inf, never selected (and filtered
                    # below for blocks smaller than k)
                    for i, q in enumerate(q_ids):
                        for j in pos_of.get(int(q), ()):
                            sims[i, j] = -np.inf
                    out_q, out_n, out_s = [], [], []
                    for i in range(len(q_ids)):
                        row = sims[i]
                        # argpartition to kk+32 candidates, then the exact
                        # (cos desc, neighbor_id asc) order on that slice;
                        # if a value tie crosses the cut the partition could
                        # drop a lower-id equal-cos candidate, so fall back
                        # to the full exact order for that row
                        m = min(kk + 32, n)
                        if m < n:
                            cand = np.argpartition(-row, m - 1)[:m]
                            if np.count_nonzero(row >= row[cand].min()) > m:
                                cand = np.arange(n)
                        else:
                            cand = np.arange(n)
                        order = cand[np.lexsort((ids_b[cand], -row[cand]))]
                        order = order[np.isfinite(row[order])][:kk]
                        out_q.extend([q_ids[i]] * len(order))
                        out_n.extend(ids_b[order])
                        out_s.extend(row[order])
                    yield pd.DataFrame(
                        {
                            "query_id": np.asarray(out_q, dtype="int64"),
                            "neighbor_id": np.asarray(out_n, dtype="int64"),
                            "cos_sim": np.asarray(out_s, dtype="float64"),
                        }
                    )

        return gen

    partials = []
    for b in range(n_blocks):
        blk = corpus.filter(F.col("_blk") == b) if n_blocks > 1 else corpus
        block_pdf = blk.select("neighbor_id", "v").toPandas()
        if len(block_pdf) == 0:
            continue
        if len(block_pdf) > 4 * block_rows:
            raise RuntimeError(
                f"corpus block {b} collected {len(block_pdf)} rows "
                f"(> 4×block_rows={block_rows}); refusing the driver funnel"
            )
        c_ids = block_pdf["neighbor_id"].to_numpy(dtype="int64")
        c_mat = np.stack(block_pdf["v"].to_numpy())  # (≤block_rows, d) float64
        c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
        bc = spark.sparkContext.broadcast((c_ids, c_mat, c_norm))
        partials.append(qside.mapInPandas(block_topk(bc), schema=out_schema))
    if n_blocks > 1:
        corpus.unpersist()  # block matrices are already collected
    if not partials:  # empty corpus: no neighbors for anyone
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rk int"
        )

    merged = reduce(DataFrame.unionAll, partials)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def cosine_topk_pairs_hof(
    emb: DataFrame,
    k: int = 5,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
) -> DataFrame:
    """Expression-only variant of :func:`cosine_topk_pairs` (no Python).

    Kept as the exact ground truth the blocked path and the IVF/PQ recall
    tests compare against. Bit-stable sequential fold; O(n·m) pair join,
    correct but not the scale path.
    """
    corpus = emb.select(
        F.col(vec_id).alias("neighbor_id"),
        as_double_array(F.col(embedding)).alias("__emb_b"),
    )
    qside = emb.select(
        F.col(vec_id).alias("query_id"),
        as_double_array(F.col(embedding)).alias("__emb_a"),
    )
    pairs = corpus.join(F.broadcast(qside), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("__emb_a"), F.col("__emb_b"))
            / (l2_norm(F.col("__emb_a")) * l2_norm(F.col("__emb_b")))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def sign_block_key(embedding: Column, block_dims: int = 6) -> Column:
    """Deterministic ANN blocking key: md5 of the sign pattern of the first
    ``block_dims`` dimensions.

    Unlike random-hyperplane LSH (whose hyperplanes are engine-side
    literals), the sign pattern is a pure function of the data — any
    engine reproduces the same buckets, which makes the blocked near-dup
    join fully oracle-checkable. Vectors
    with high cosine similarity agree on the sign of every high-magnitude
    coordinate, so recall loss concentrates on near-zero coordinates (the
    standard LSH trade-off; more dims → smaller buckets → lower recall).
    """
    bits = [
        F.when(F.element_at(embedding, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for d in range(block_dims)
    ]
    return F.md5(F.concat_ws("|", *bits))


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    block_dims: int = 6,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via deterministic sign-blocking.

    The 100 TB shape: an equi-join on the block key (never a cross join) —
    pair space is Σ bucket², tuned by ``block_dims``. Candidates get the
    exact sequential-fold cosine; pairs at or above ``threshold`` survive.
    Returns (vec_a, vec_b, cos_sim) with vec_a < vec_b, each pair once.
    """
    v = (
        emb.select(
            F.col(vec_id).alias("vid"),
            as_double_array(F.col(embedding)).alias("v"),
        )
        # hoist the norm: computed once per vector (n folds), not once per
        # pair side (Σ bucket² folds); the cosine keeps the oracle's exact
        # operand order dot/(norm_a·norm_b) so doubles stay bit-identical
        .withColumn("nrm", l2_norm(F.col("v")))
        .withColumn("blk", sign_block_key(F.col("v"), block_dims))
    )
    a = v.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "blk",
    )
    b = v.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "blk",
    )
    return (
        a.join(b, on="blk")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos_sim"
            ),
        )
        .where(F.round(F.col("cos_sim"), 6) >= F.lit(threshold))
    )


def _assign_cells(
    base: DataFrame,
    cents: DataFrame,
    round_decimals: int | None = None,
) -> DataFrame:
    """Argmax-cosine cell per vector via map-side partial aggregation.

    The broadcast join emits n × n_cells candidate rows, but ``max_by`` is a
    declarative aggregate: each map partition reduces its candidates to one
    partial per vid BEFORE the exchange, so only n rows shuffle — not the
    n^1.5 a ``row_number`` window over the join would move (every candidate
    row crosses the wire just to be discarded). Ties break to the lowest
    centroid id via the (cell_cos, -cell) struct ordering. Carries (v, nrm)
    through the aggregate so callers need no join back to the corpus.

    ``round_decimals`` rounds the assignment cosine before the argmax —
    pair it with :func:`train_centroids`' quantized training and the whole
    cell assignment becomes reproducible across engines (ulp-level
    differences in dot-product accumulation can no longer flip a cell),
    which is what lets a TRAINED index stay oracle-hash-checkable.

    The QUANTIZED path runs an Arrow-batched numpy matmul — the 64×
    scale point measured the expression form's candidate fold at ~8 µs/pair (n × n_cells interpreted lambda evaluations
    dominated the whole IVF family's wall clock), while BLAS pays ~ns,
    and :func:`spark_round_array` keeps the rounded cosines bit-identical
    so the argmax (ties → lowest cell, argmax-first on a cell-sorted
    matrix) cannot differ from the expression form. UNROUNDED callers
    stay on the expression path (``max_by`` partial aggregation): without
    rounding, BLAS-vs-fold ulp differences could flip near-tie cells.
    The score matrix chunks to ~32 MB per worker; the collected centroid
    table is bounded by contract (it broadcasts either way).

    Returns (vid, cell, v, nrm).
    """
    if round_decimals is not None:
        import numpy as np

        rows = sorted(
            cents.select("cell", "cv", "cnrm").collect(),
            key=lambda r: r["cell"],
        )
        cells_arr = np.array([r["cell"] for r in rows], dtype="int64")
        C = np.stack([np.asarray(r["cv"], dtype="float64") for r in rows])
        cn = np.maximum(
            np.array([r["cnrm"] for r in rows], dtype="float64"), 1e-12
        )
        Cn = C / cn[:, None]
        rd = round_decimals

        def gen(batches):
            import pandas as pd

            n_cells = len(cells_arr)
            chunk = max(1, 4_000_000 // max(n_cells, 1))
            for pdf in batches:
                for s in range(0, len(pdf), chunk):
                    sub = pdf.iloc[s : s + chunk]
                    V = np.stack(sub["v"].to_numpy())
                    nrm = np.maximum(sub["nrm"].to_numpy(), 1e-12)
                    sims = (V / nrm[:, None]) @ Cn.T
                    sims = spark_round_array(sims, rd)
                    idx = np.argmax(sims, axis=1)  # first max → lowest cell
                    yield pd.DataFrame(
                        {
                            "vid": sub["vid"].to_numpy(),
                            "cell": cells_arr[idx],
                            "v": sub["v"],
                            "nrm": sub["nrm"].to_numpy(),
                        }
                    )

        return base.select("vid", "v", "nrm").mapInPandas(
            gen, "vid long, cell long, v array<double>, nrm double"
        )
    cand = base.join(F.broadcast(cents)).withColumn(
        "cell_cos",
        dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")),
    )
    if round_decimals is not None:
        cand = cand.withColumn(
            "cell_cos", F.round(F.col("cell_cos"), round_decimals)
        )
    picked = cand.groupBy("vid").agg(
        F.max_by(
            F.struct("cell", "v", "nrm"),
            F.struct(F.col("cell_cos"), (-F.col("cell")).alias("neg_cell")),
        ).alias("best")
    )
    return picked.select(
        "vid", "best.cell", F.col("best.v").alias("v"), F.col("best.nrm").alias("nrm")
    )


def _cell_topk(assigned: DataFrame, k: int) -> DataFrame:
    """In-cell exact-cosine top-k over (vid, cell, v, nrm) assignments.

    Vectors ride WITH their ids through the cell groupBy (the
    near_dup_pairs pattern): in-cell pairs expand and score in-array, so
    the probe is ONE wide dependency — no join back to the corpus.
    """
    groups = (
        assigned.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("vid", "v", "nrm"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    ms = F.col("ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x: F.filter(
                F.transform(
                    ms,
                    lambda y: F.struct(
                        x["vid"].alias("query_id"),
                        y["vid"].alias("neighbor_id"),
                        (dot(x["v"], y["v"]) / (x["nrm"] * y["nrm"])).alias(
                            "cos_sim"
                        ),
                    ),
                ),
                lambda p: p["query_id"] != p["neighbor_id"],
            ),
        )
    )
    scored = groups.select(F.explode(pair_structs).alias("p")).select(
        "p.query_id", "p.neighbor_id", "p.cos_sim"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ann_ivf_topk_trained(
    emb: DataFrame,
    n_cells: int | None = None,
    k: int = 3,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    train_iters: int = 4,
    round_decimals: int | None = 6,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate kNN with a TRAINED (sample k-means) coarse
    quantizer.

    1. **Coarse centroids** — :func:`train_centroids` (bounded-sample
       spherical k-means); the centroid set is tiny and broadcast.
    2. **Assignment** — every vector keeps its argmax-cosine cell (ties →
       lowest centroid id, see :func:`_assign_cells`).
    3. **Probe** — neighbors are ranked by exact cosine *within the cell
       only* (nprobe=1): the pair space is Σ cell², never n²; vectors ride
       with ids through the single cell shuffle, so there is no join back.

    ``n_cells`` defaults to ``max(8, ⌈√n⌉)``, the standard IVF sizing: it
    must grow with the corpus, or in-cell search turns quadratic in cell
    occupancy. Recall against brute force is pinned in
    tests/test_similarity_scale.py.

    With the default ``round_decimals``, training runs in QUANTIZED
    arithmetic: assignment cosines and recentred centroids round to 6
    decimals at every step, and the final corpus assignment rounds its
    cosine the same way. That makes the entire trained index a
    deterministic function of the input bytes — any engine replaying the
    same rounded Lloyd steps builds the identical index, which is what
    keeps the catalog vehicle per-row oracle-checkable even though the
    quantizer is genuinely trained. Accuracy cost of the rounding is
    nil at cosine scale (1e-6 on values in [-1, 1]).
    """
    import math

    base = emb.select(
        F.col(vec_id).alias("vid"),
        as_double_array(F.col(embedding)).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    if cents is None:
        if n_cells is None:
            # sizing needs only a row count; base flows through the plan
            # exactly once (train_centroids reads ``emb``, not ``base``),
            # so persisting here would leak executor cache for the session
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
    return _cell_topk(assigned, k)


def semantic_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int | None = None,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    train_iters: int = 4,
    round_decimals: int | None = 6,
    cents: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023, arXiv:2303.09540).

    Cluster the corpus with the trained coarse quantizer, then inside each
    cluster drop near-identical-meaning members: for every in-cell pair with
    cosine ≥ ``threshold``, the member CLOSER to its centroid loses (the
    paper's keep-the-outlier rule — far-from-centroid examples carry more
    training signal), ties broken to keep the lower id. Survivors are every
    vector that loses no pair.

    Scale shape — identical to the IVF probe (the pair space is n²/cells,
    ≈ linear with ⌈√n⌉ cells; raise ``n_cells`` for tighter clusters on a
    bigger corpus): one broadcast-assign pass, ONE cell-keyed shuffle into
    a per-cell pandas pass (vectors ride with their ids, no join back to
    the corpus). No all-pairs stage anywhere.

    With ``round_decimals`` (default 6) both the assignment cosines and the
    pair cosines round before any comparison, so — paired with quantized
    :func:`train_centroids` — the survivor set is a deterministic function
    of the input bytes, replayable in any engine (the catalog oracle
    replays it in SQL).

    Returns (``vec_id``, cell, centroid_cos) for the surviving vectors.
    """
    import math

    base = emb.select(
        F.col(vec_id).alias("vid"),
        as_double_array(F.col(embedding)).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    if cents is None:
        if n_cells is None:
            # sizing needs only a row count; base flows through the plan
            # exactly once (train_centroids reads ``emb``, not ``base``),
            # so persisting here would leak executor cache for the session
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
    ccos = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    if round_decimals is not None:
        ccos = F.round(ccos, round_decimals)
    scored = assigned.join(F.broadcast(cents), "cell").select(
        "cell", "vid", "v", "nrm", ccos.alias("ccos")
    )
    # The in-cell pair space is n²/cells ≈ n·√n with ⌈√n⌉ cells; a JVM
    # higher-order-function fold pays ~8 µs per pair (interpreted lambda
    # per element — the 64× scale point measured ratio 287 on that form),
    # while a per-cell BLAS matmul pays ~ns. Dense per-row linear algebra
    # is ground rule 1's explicit carve-out, and spark_round_array rounds
    # the pair cosines bit-identically to Spark's ``round``, so the SQL
    # oracle replays the survivor set exactly. Members are ordered by
    # (ccos, vid): member y survives iff NO earlier member (farther from
    # the centroid, or same distance with a lower id) clears the pair
    # threshold against it. Memory is chunked: the score matrix never
    # exceeds ~32 MB.
    rd = round_decimals
    tau = float(threshold)
    out_schema = f"{vec_id} long, cell long, centroid_cos double"

    def cell_survivors(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        keep_cols = pd.DataFrame(
            {
                vec_id: pdf["vid"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "centroid_cos": pdf["ccos"].to_numpy(),
            }
        )
        if m <= 1:
            return keep_cols
        order = np.lexsort(
            (pdf["vid"].to_numpy(), pdf["ccos"].to_numpy())
        )
        V = np.stack(pdf["v"].to_numpy())[order]
        nrm = np.maximum(pdf["nrm"].to_numpy()[order], 1e-12)
        Xn = V / nrm[:, None]
        loser = np.zeros(m, dtype=bool)
        chunk = max(1, 4_000_000 // m)
        for s in range(1, m, chunk):
            e = min(s + chunk, m)
            sims = Xn[:e] @ Xn[s:e].T  # (e, c)
            if rd is not None:
                sims = spark_round_array(sims, rd)
            hit = sims >= tau
            # only STRICTLY EARLIER members count against column j
            rows = np.arange(e)[:, None]
            cols = np.arange(s, e)[None, :]
            loser[s:e] = (hit & (rows < cols)).any(axis=0)
        keep = np.sort(order[~loser])  # positional, original row order
        return keep_cols.iloc[keep]

    return scored.groupBy("cell").applyInPandas(
        cell_survivors, schema=out_schema
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    cents: DataFrame,
    members: DataFrame,
    threshold: float = 0.4,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Semantic near-dups of a NEW batch against a persisted IVF index —
    the vector-family twin of ``dedup.near_dup_pairs_incremental``.

    ``cents`` come from :func:`train_centroids` and ``members`` from
    :func:`ivf_members` (write ``members`` bucketed on ``cell`` via
    ``sinks.bucketed.write_bucketed`` and the corpus side of the join
    needs no shuffle at query time). The batch
    broadcast-assigns to its cells (batch-sized), equi-joins the matching
    cell's members, and keeps pairs whose cosine clears ``threshold`` —
    cost is O(|batch| × cell size), never corpus²; the corpus is neither
    re-assigned nor re-scanned beyond the probed cells.

    Returns (batch_id, corpus_id, cos_sim) for every semantic-dup pair;
    the canonical policy drops matched batch rows (the corpus is already
    curated). Batch-internal duplicates are a separate concern — run
    :func:`semantic_dedup_survivors` over the batch with the SAME
    ``cents`` first, exactly like the MinHash incremental flow runs
    in-batch dedup before the index probe.
    """
    b = batch.select(
        F.col(vec_id).alias("vid"),
        as_double_array(F.col(embedding)).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    assigned = _assign_cells(b, cents, round_decimals=round_decimals).select(
        "cell",
        F.col("vid").alias("batch_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    corpus = members.select(
        "cell",
        F.col("vid").alias("corpus_id"),
        F.col("v").alias("cv2"),
        F.col("nrm").alias("cnrm2"),
    )
    cos = dot(F.col("bv"), F.col("cv2")) / (F.col("bnrm") * F.col("cnrm2"))
    if round_decimals is not None:
        cos = F.round(cos, round_decimals)
    return (
        assigned.join(corpus, "cell")
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select("batch_id", "corpus_id", "cos_sim")
    )


# the layout train_centroids publishes — the ingests' per-batch centroid
# reads declare it instead of re-inferring
TRAINED_CENTROIDS_SCHEMA = "cell long, cv array<double>, cnrm double"


def train_centroids(
    emb: DataFrame,
    n_cells: int,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    iters: int = 8,
    sample_rows: int = 16384,
    round_decimals: int | None = None,
) -> DataFrame:
    """Spherical k-means centroid training on a bounded deterministic sample.

    The faiss discipline: IVF coarse quantizers train on a SAMPLE (tens of
    thousands of rows), never the corpus — driver-resident by contract
    (``sample_rows`` caps it), so this is not a funnel at 100 TB. The sample
    is the first ``sample_rows`` vectors in md5(vid) order — a deterministic
    pseudo-random draw (TakeOrdered: per-partition top-k, no full sort) that
    makes training reproducible run-to-run and engine-to-engine. Lloyd
    iterations run in numpy on cosine distance (assign to argmax-cosine
    centroid, recenter on the mean, empty cells keep their previous
    centroid).

    ``round_decimals`` switches to QUANTIZED Lloyd: each iteration rounds
    the assignment cosines before the argmax (ties → lowest cell, matching
    ``ROW_NUMBER ... ORDER BY cos DESC, cell``) and rounds every recentred
    coordinate. Each step then depends only on rounded values, so a replay
    in any engine — numpy here, unrolled SQL in the DuckDB oracle —
    produces bit-identical centroids; ulp-level accumulation differences
    are absorbed by the rounding instead of compounding across iterations.

    Returns a broadcastable (cell, cv, cnrm) DataFrame compatible with
    :func:`_assign_cells`; cells are 0..n_cells-1.
    """
    import numpy as np

    pdf = (
        emb.select(
            F.col(vec_id).alias("vid"),
            as_double_array(F.col(embedding)).alias("v"),
        )
        .orderBy(F.md5(F.col("vid").cast("string")), F.col("vid"))
        .limit(sample_rows)
        .toPandas()
    )
    X = np.stack(pdf["v"].to_numpy())  # (s, d) float64
    n_cells = min(n_cells, len(X))
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_cells].copy()  # md5-order heads: a deterministic random init

    def rnd(a):
        return spark_round_array(a, round_decimals)

    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        sims = Xn @ Cn.T
        if round_decimals is not None:
            sims = rnd(sims)
        # np.argmax takes the FIRST max — lowest cell on (rounded) ties
        assign = np.argmax(sims, axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                mean = members.mean(axis=0)
                if round_decimals is not None:
                    mean = rnd(mean)
                C[c] = mean
            # empty cells keep their previous value (raw init or a prior
            # rounded mean) — the oracle's COALESCE mirrors this exactly
    spark = emb.sparkSession
    rows = [
        (int(i), [float(x) for x in C[i]], float(np.linalg.norm(C[i])))
        for i in range(n_cells)
    ]
    return spark.createDataFrame(rows, "cell long, cv array<double>, cnrm double")


def ivf_members(
    emb: DataFrame,
    cents: DataFrame,
    vec_id: str = "vec_id",
    embedding: str = "embedding",
    round_decimals: int | None = None,
) -> DataFrame:
    """Member rows (cell, vid, v, nrm) for ``emb`` at GIVEN centroids
    (from :func:`train_centroids`): new batches assign at the index's
    frozen coarse quantizer and their rows append to the persisted
    members relation.
    Broadcast assignment, map-only — O(batch × n_cells), no shuffle."""
    base = emb.select(
        F.col(vec_id).alias("vid"),
        as_double_array(F.col(embedding)).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    return _assign_cells(base, cents, round_decimals=round_decimals).select(
        "cell", "vid", "v", "nrm"
    )
