"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (SURVEY.md §7 step 10) for training-data pipelines.

Scale design:
- **Exact dedup** is a hash-groupBy on the normalized-text digest: one shuffle
  keyed by a 128-bit md5, no skew (uniform hash keys), no driver state.
- **MinHash-LSH** avoids the O(n²) pair space: shingles → K min-hash values →
  B bands; candidate pairs come from a self-join *within LSH buckets only*.
  At 100 TB the bucket join is the only shuffle-heavy step and its fan-out is
  controlled by (K, B) — identical to the standard MinHash-LSH formulation.
- **SimHash** produces a 64-bit fingerprint per doc; near-dup candidates are
  banded on 16-bit chunks the same way.
- All hashing is md5-derived so results are reproducible across engines and
  runs (no seed-per-partition nondeterminism).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text


def exact_dedup_keys(df: DataFrame, doc_id: str, text: str) -> DataFrame:
    """Group exact duplicates by normalized-text digest.

    Returns one row per distinct content: (dedup_key, keep_id = min doc_id,
    dup_count). Survivors = join back on keep_id; at scale this is a single
    shuffle on the digest.
    """
    keyed = df.select(
        F.col(doc_id).alias("doc_id"),
        F.md5(normalize_text(F.col(text))).alias("dedup_key"),
    )
    return keyed.groupBy("dedup_key").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").cast("long").alias("dup_count"),
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from normalized text.

    Built as a ``zip_with`` fold over ``n`` shifted slices of the token
    array — no UDF, and no outer-capturing lambdas: a
    ``transform(sequence(...), i -> slice(toks, ...))`` form would
    re-evaluate the normalize+split of the whole document once per shingle
    (higher-order functions re-run captured outer expressions per element;
    no CSE crosses the lambda boundary). ``zip_with`` pads the shorter
    slice with nulls and ``concat_ws`` skips them, so documents shorter
    than ``n`` tokens contribute their full token string, exactly like the
    index-slice form.
    """
    toks = F.split(normalize_text(text), r"\s+")
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    out = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        out = F.zip_with(
            out, F.slice(toks, k, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(out)


def minhash_sig_expr(sh: Column, num_hashes: int) -> Column:
    """MinHash signature as a NARROW array expression over a shingle array.

    Hash family h_i(s) = md5(i || ':' || s); the min is taken
    lexicographically over hex digests — a valid min-wise family, byte-stable
    across engines. One pass over the array: each shingle maps to its K
    digests, then an element-wise running ``least`` fold. No explode, no
    shuffle — at 100 TB signatures fuse into the scan stage as pure map work
    (a per-doc groupBy would shuffle the entire shingle set for no reason).
    """
    per_shingle = F.transform(
        sh, lambda s: F.array(*[F.md5(F.concat(F.lit(f"{i}:"), s)) for i in range(num_hashes)])
    )
    init = F.array_repeat(F.lit(None).cast("string"), num_hashes)
    return F.aggregate(
        per_shingle, init, lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b))
    )


def minhash_signature(df: DataFrame, doc_id: str, text: str, num_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """(doc_id, sig: array<string>) MinHash signature per document (narrow)."""
    return df.select(
        F.col(doc_id).alias("doc_id"), shingles(F.col(text), shingle_n).alias("_sh")
    ).select("doc_id", minhash_sig_expr(F.col("_sh"), num_hashes).alias("sig"))


@lru_cache(maxsize=64)
def _lsh_row_exprs(
    doc_id: str, text: str, num_hashes: int, bands: int, shingle_n: int
) -> tuple[Column, Column, Column, Column]:
    """Memoized Column trio behind :func:`lsh_bucket_table` (r14).

    Building the nested-lambda expression trees (shingle zip_with fold →
    minhash aggregate → band bucket array) costs ~200 ms of Py4J round
    trips and JVM expression construction PER CALL — the dominant
    plan-construction cost of every micro-batch of the streaming ingests
    and of every bench pass over the dedup vehicles (measured: fresh
    lsh_bucket_table 283 ms vs 61 ms with prebuilt Columns). Columns are
    immutable expression wrappers bound to the JVM gateway, not to a
    SparkSession, so one construction per parameter set per process is
    safe to reuse across DataFrames, queries and sessions."""
    rows_per_band = num_hashes // bands
    return (
        F.col(doc_id).alias("doc_id"),
        shingles(F.col(text), shingle_n).alias("sh"),
        minhash_sig_expr(F.col("sh"), num_hashes),
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            *[
                                F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )


def lsh_bucket_table(
    df: DataFrame,
    doc_id: str,
    text: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, sh, bucket) LSH index rows — one per document per band.

    Narrow (signature is an array fold, bucket ids explode in place). This
    is the persistable dedup index: write it bucketed on ``bucket``
    (sinks.bucketed) and incremental batches join against it without
    re-processing the corpus (see :func:`near_dup_pairs_incremental`).
    """
    idc, sh, sig, bucket = _lsh_row_exprs(
        doc_id, text, num_hashes, bands, shingle_n
    )
    sh_df = df.select(idc, sh).withColumn("sig", sig)
    return sh_df.select("doc_id", "sh", bucket)


def jaccard_similarity(sh_a: Column, sh_b: Column) -> Column:
    """Exact n-gram Jaccard between two shingle arrays (verification step)."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def near_dup_pairs(
    df: DataFrame,
    doc_id: str,
    text: str,
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ threshold.

    The classic two-phase shape: cheap recall via LSH buckets, exact precision
    via shingle-set Jaccard on candidates only.

    The shingle payload rides WITH the doc id through the bucket shuffle, so
    verification happens in-bucket with no join back to the corpus: one scan
    of the input, one wide dependency (the bucket groupBy), then a tiny
    distinct over verified pairs (cross-band repeats). The former shape —
    candidate ids joined back twice against a recomputed shingle table —
    scanned the corpus three times and shuffled five times; at 100 TB the
    payload shuffle (docs × bands × ~1 KB) is far cheaper than re-scanning.

    **Degenerate-bucket cap**: a bucket holding more than ``max_bucket``
    members (viral boilerplate — one such string at 100 TB makes a single
    bucket's pair expansion quadratic in the corpus) is sidelined instead of
    expanded. Members of
    a degenerate bucket are overwhelmingly *exact* duplicates, which the
    exact-dedup pass (:func:`exact_dedup_keys`) already catches — the cap
    bounds work without losing the survivors contract.
    """
    band_rows = lsh_bucket_table(df, doc_id, text, num_hashes, bands, shingle_n)
    return near_dup_pairs_from_rows(band_rows, threshold, max_bucket)


def near_dup_pairs_from_rows(
    band_rows: DataFrame,
    threshold: float = 0.7,
    max_bucket: int = 1024,
) -> DataFrame:
    """:func:`near_dup_pairs` over a PRECOMPUTED :func:`lsh_bucket_table`.

    The signature stage (shingle + minhash, one md5 per shingle per hash)
    is the dominant cost of a near-dup pass; a caller that needs the band
    rows for more than one consumer — the streaming ingest uses them for
    the within-batch check, the incremental check against the persisted
    index, AND the index append — computes them once, persists, and feeds
    each consumer this function instead of re-shingling per consumer.
    ``near_dup_pairs`` delegates here, so the two paths cannot drift.
    """
    groups = (
        band_rows.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sh"))).alias("ms"))
        .where((F.size("ms") > 1) & (F.size("ms") <= F.lit(max_bucket)))
    )
    return (
        groups.select(_verified_pair_expr(float(threshold)))
        .select("p.doc_a", "p.doc_b", "p.jaccard")
        .distinct()
    )


@lru_cache(maxsize=32)
def _verified_pair_expr(threshold: float) -> Column:
    """Memoized in-bucket pair-expansion expression behind
    :func:`near_dup_pairs_from_rows` — the same ~150 ms-per-construction
    nested-lambda argument as :func:`_lsh_row_exprs` (r14): built once per
    threshold per process instead of once per micro-batch/pass."""
    ms = F.col("ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    jaccard_similarity(x["sh"], y["sh"]).alias("jaccard"),
                ),
            ),
        )
    )
    return F.explode(
        F.filter(pair_structs, lambda p: p["jaccard"] >= F.lit(threshold))
    ).alias("p")


def bucket_summary(band_rows: DataFrame) -> DataFrame:
    """(bucket, n_members) membership summary of an LSH index.

    Computed ONCE when the index is written (sinks.bucketed.write_lsh_index
    co-writes it next to the index) and maintained additively on appends —
    membership counts are associative, so a batch writer just sums its own
    per-bucket counts into the summary. Incremental dedup runs then evaluate
    the degenerate-bucket cap against this compact table instead of
    re-aggregating the full index: O(|batch|) per run, not O(corpus).
    """
    return band_rows.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_members")
    )


def near_dup_pairs_incremental(
    new_df: DataFrame,
    corpus_index: DataFrame,
    doc_id: str,
    text: str,
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1024,
    corpus_summary: DataFrame | None = None,
    new_rows: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of a NEW batch against an existing corpus index.

    ``corpus_index`` is a persisted :func:`lsh_bucket_table` (same
    num_hashes/bands/shingle_n). Only the new batch is shingled and hashed;
    the corpus contributes its precomputed (doc_id, sh, bucket) rows through
    an equi-join on ``bucket``. This is the daily-ingest shape at 100 TB:
    cost scales with |new| × bucket-hit-rate, not with the corpus. If the
    index was written bucketed on ``bucket`` (sinks.bucketed), the join
    doesn't even shuffle the corpus side.

    **Degenerate-bucket cap** — same contract as :func:`near_dup_pairs`:
    a bucket whose combined membership (corpus + new batch) exceeds
    ``max_bucket`` is sidelined, not joined, so a viral-boilerplate bucket
    in the persisted index cannot fan every new doc out against unbounded
    corpus members. The cap counts the combined membership — this keeps full
    and incremental runs equivalent: splitting a corpus and deduping one
    half against the other half's index sidelines exactly the buckets the
    full run would.

    Pass ``corpus_summary`` — the persisted :func:`bucket_summary` the index
    writer maintains — and the cap becomes a join of the batch's per-bucket
    counts against the summary: per-run cost O(|batch|), no aggregation of
    the corpus index. ``corpus_n + batch_n`` is arithmetically the same
    total the union count produced, so the equivalence property is
    unchanged. Without it the summary is derived from ``corpus_index``
    in-plan (correct, but re-aggregates the index every run — the shape the
    summary exists to avoid at scale).

    Pass ``new_rows`` — a precomputed :func:`lsh_bucket_table` of exactly
    the ``new_df`` docs (ideally persisted and shared with the caller's
    other consumers) — to skip re-shingling the batch here; ``new_df``'s
    text column is then never read.

    Returns (new_doc, corpus_doc, jaccard) pairs with jaccard ≥ threshold.
    """
    if new_rows is None:
        new_rows = lsh_bucket_table(
            new_df, doc_id, text, num_hashes, bands, shingle_n
        )
    if corpus_summary is None:
        corpus_summary = bucket_summary(corpus_index)
    # cap = batch counts + writer-maintained corpus counts; buckets absent
    # from the batch never reach the join below, so only batch buckets need
    # evaluating — the left join keeps this O(|batch|) rows wide
    ok_buckets = (
        new_rows.groupBy("bucket")
        .agg(F.count("*").cast("long").alias("_n_new"))
        .join(corpus_summary, "bucket", "left")
        .where(
            F.col("_n_new") + F.coalesce(F.col("n_members"), F.lit(0))
            <= F.lit(max_bucket)
        )
        .select("bucket")
    )
    joined = (
        new_rows.join(ok_buckets, "bucket", "left_semi")
        .alias("n")
        .join(corpus_index.alias("c"), F.col("n.bucket") == F.col("c.bucket"))
    )
    return (
        joined.select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
            jaccard_similarity(F.col("n.sh"), F.col("c.sh")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .distinct()
    )


def simhash_expr(sh: Column, bits: int) -> Column:
    """SimHash as a NARROW expression over a shingle array.

    Per shingle: ±1 bit votes from the md5-derived integer; an element-wise
    array fold sums votes per bit position, then majority bits assemble the
    fingerprint. Zero shuffles — fuses into the scan stage (the exploded
    groupBy form shuffles every shingle of every doc just to add votes that
    are already co-located in the row).
    """

    # One md5 per shingle, materialized by its own transform: deriving the
    # hash inside the per-bit lambda would capture it from the outer scope
    # and re-run the md5 once per bit (HOF lambdas re-evaluate captured
    # expressions per element; no CSE crosses the lambda boundary). The
    # per-bit masks are Python-int literals, constant-folded by Catalyst.
    hxs = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    votes = F.aggregate(
        F.transform(
            hxs,
            lambda h: F.array(
                *[
                    F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                    for i in range(bits)
                ]
            ),
        ),
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(
                v > 0, F.pow(F.lit(2.0), i).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def contamination_ratios(
    suspects: DataFrame,
    blocklist: DataFrame,
    doc_id: str,
    text: str,
    shingle_n: int = 3,
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """Benchmark decontamination: n-gram overlap of each suspect document
    against the distinct shingle set of a blocklist corpus.

    The standard test-set-leakage check a pretraining pipeline runs before
    packing: ``overlap = |shingles(doc) ∩ B| / |shingles(doc)|`` where ``B``
    is the union of distinct blocklist shingles; documents above a caller-
    chosen threshold are dropped (or flagged) as contaminated.

    Scale shape: the blocklist (benchmark suites) is small at any corpus
    size → its distinct shingle set BROADCASTS, the suspect side explodes
    shingles map-side against it, and the only wide dependency is ONE
    shuffle on doc_id for the per-doc counts. Never an all-pairs join, never
    a corpus-sized build side.

    ``broadcast_blocklist=False`` drops the hint and lets AQE choose — pass
    a statistics-driven decision from ``plans.hints.broadcast_decision``
    (profile_table over the blocklist) when the blocklist is not
    small-by-contract (e.g. decontaminating against another full corpus).

    Returns (doc_id, n_shingles, n_hit, overlap) — one row per suspect doc.
    """
    b = (
        blocklist.select(F.explode(shingles(F.col(text), shingle_n)).alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    s = suspects.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(shingles(F.col(text), shingle_n)).alias("shingle"),
    )
    return (
        s.join(F.broadcast(b) if broadcast_blocklist else b, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn(
            "overlap",
            F.col("n_hit").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


def _components_union_find(
    spark, edges: list[tuple], id_type
) -> DataFrame:
    """Driver-side union-find over a SIZE-CHECKED collected edge list —
    the small-graph arm of :func:`duplicate_components`. Union-by-min
    keeps the invariant "every root is the minimum id of its tree", so
    after path compression each vertex's root IS its component label
    (the same algorithm the test oracle runs)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    rows = [(v, find(v)) for v in parent]
    schema = T.StructType(
        [
            T.StructField("doc_id", id_type, False),
            T.StructField("component", id_type, False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def duplicate_components(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iters: int = 25,
    small_graph_cap: int = 100_000,
) -> DataFrame:
    """Connected components over a duplicate-pair graph.

    Pairwise dedup (``near_dup_pairs``) yields edges, but duplicates are
    transitive in practice: A~B and B~C means {A, B, C} is one duplicate
    cluster even when A~C itself misses the similarity threshold. Survivor
    selection must therefore operate on COMPONENTS, not directed pairs —
    the standard last step of every large-scale near-dedup pipeline.

    Distributed label propagation: every vertex starts labeled with its own
    id; each round takes the min over {own label} ∪ {neighbor labels}
    (hash-min), then compresses one pointer-jump step (label ← label of
    label), which turns O(diameter) convergence into O(log n) rounds. Each
    round is a fixed number of key-partitioned joins/aggregations — no
    driver-side graph state, no collect. ``localCheckpoint`` truncates the
    lineage each round so the plan does not grow with the iteration count
    (the classic iterative-DataFrame failure mode); on a cluster where
    executor loss matters mid-computation, set a reliable checkpoint dir
    and swap in ``checkpoint`` at the call site.

    Convergence is detected with an existence probe (``limit(1).count()``)
    — one cheap job per round, early-exit. Raises if the graph has not
    converged after ``max_iters`` rounds (duplicate clusters have tiny
    diameters; hitting the cap means the input is not a dedup graph).

    Returns (doc_id, component) for every vertex that appears in ``pairs``;
    ``component`` is the minimum doc_id of the cluster. Vertices that occur
    in no pair are absent (they are their own singleton components).

    **Adaptive small-graph arm** (r13): duplicate-pair graphs are usually
    MUCH smaller than their corpus (edges exist only where near-dups do),
    and the distributed loop's cost on a small graph is pure fixed driver
    overhead — 2 checkpoints + per-round checkpoint/probe jobs for data
    that fits in one task. When the distinct undirected edge count is
    ≤ ``small_graph_cap`` (size-checked via a capped ``limit(cap+1)``
    collect — never an unbounded funnel, the same legitimacy class as the
    guarded block-matrix kNN), the labels come from one driver-side
    union-find pass over the collected edges instead. Above the cap —
    or with ``small_graph_cap=0``, which tests use to force it — the
    distributed loop runs unchanged. This is the AQE posture applied to
    an iterative operator: pick the physical strategy from the measured
    size of the actual input, keep the scale path for scale.
    """
    und = pairs.select(
        F.least(F.col(doc_a), F.col(doc_b)).alias("u"),
        F.greatest(F.col(doc_a), F.col(doc_b)).alias("v"),
    ).distinct()
    if small_graph_cap:
        head = und.limit(small_graph_cap + 1).collect()
        if len(head) <= small_graph_cap:
            return _components_union_find(
                pairs.sparkSession,
                [(r["u"], r["v"]) for r in head],
                und.schema["u"].dataType,
            )
    # checkpoint the edge list too: it is joined in EVERY round, and
    # `pairs` is typically the whole LSH near-dup pipeline — left lazy, each
    # round would re-run shingling/minhash/bucket-join from scratch
    sym = (
        pairs.select(F.col(doc_a).alias("u"), F.col(doc_b).alias("v"))
        .unionByName(pairs.select(F.col(doc_b).alias("u"), F.col(doc_a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iters):
        nbr = sym.join(
            labels.select(F.col("id").alias("v"), "label"), "v"
        ).select(F.col("u").alias("id"), "label")
        merged = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        hop = merged.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
        )
        jumped = (
            merged.join(hop, merged["label"] == hop["_jid"], "left")
            .select(
                "id", F.coalesce("_jlabel", "label").alias("label")
            )
            .localCheckpoint(eager=True)
        )
        # round 1 always changes when any edge exists (every edge (u, v)
        # with u < v relabels v), so its convergence probe is a wasted
        # job — skip it. On an EMPTY edge set this trades the old round-1
        # early exit for one extra trivial round; every non-degenerate
        # input saves a driver round-trip per call. At max_iters == 1
        # there is no round 2 to catch a trivially-converged graph
        # (empty/self-pair edge sets), so the probe must run.
        changed = (
            1
            if it == 0 and max_iters > 1
            else (
                jumped.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
        )
        labels = jumped
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("component")
            )
    raise RuntimeError(
        f"duplicate_components: no convergence after {max_iters} rounds — "
        "input does not look like a dedup pair graph"
    )
