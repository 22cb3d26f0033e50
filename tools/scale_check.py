#!/usr/bin/env python
"""Empirical scale checks, one CLI per fixture; results are in SCALE.md.

``shifted``: replicate the sf0.1 fixtures K× (shifted keys, multi-row-group
parquet — the file layout a real corpus has), time heavy queries at 1× and
K× and print the ratio. Near-linear ratios (≈K scan-bound, ≈K·log or mildly
super-linear pair-expanding) are expected; quadratic blow-ups would expose a
pair-space leak.

``dup``: the dedup family on tools/gen_dup_fixture.py corpora (generated into
/tmp/spark_graft_dup/k{K} when missing, kept for reuse; K=1 is always the
base point). Shifted replication gives every document K−1 exact replicas,
so pair-expanding vehicles grow ~K² by construction; this fixture has unique
content + a fixed ~4.7% small-cluster duplicate rate, so the pair space
grows LINEARLY in K. Besides the catalog vehicles it times
``nd_deg_scaled`` (cosine near-dup degree with OCCUPANCY-SCALED blocking,
block_dims = 6 + ⌈log2 K⌉: at d=64 fixed 6-dim blocking would quadratically
re-measure the background cosine tail, not the duplicate structure) and
``comp_collected`` / ``comp_distributed`` (duplicate_components with the
adaptive size guard's default cap vs cap=0, over one pair graph
checkpointed per K, so both arms time the labeling alone).

``stream``: drive the near-dup and semantic-dedup ingests over a K×
shifted corpus as monotone-id micro-batches with auto-compaction ACTIVE,
printing per batch the wall and the part counts every read pays a listing
for. Flat-ish walls + bounded part counts show the per-batch cost is
O(batch x index-probe), not O(corpus), and that compaction saw-tooths the
listing cost instead of letting it grow with batches.

Usage:
    python tools/scale_check.py shifted [K] [scratch_dir] [--only=a,b] [--tables=t,u] [--runs=2]
    python tools/scale_check.py dup K [K ...] [--only=a,b] [--runs=2]
    python tools/scale_check.py stream [K] [n_batches] [scratch_dir]
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _sentinel_once
from tools.gen_dup_fixture import build_dup_corpus
from vmware_sd_wan_velocloud_bi_intake_spark.operators import (
    bpe, classifier, dedup, export, lm, pq, similarity, spans,
)
from vmware_sd_wan_velocloud_bi_intake_spark.plans.curation import curate_corpus
from vmware_sd_wan_velocloud_bi_intake_spark.queries import all_queries
from vmware_sd_wan_velocloud_bi_intake_spark.session import get_spark
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table
from vmware_sd_wan_velocloud_bi_intake_spark.streaming.neardup import make_near_dup_ingest
from vmware_sd_wan_velocloud_bi_intake_spark.streaming.semdedup import (
    make_semantic_dedup_ingest,
)

BASE = "/root/testdata/sf0.1"
DUP_ROOT = "/tmp/spark_graft_dup"
COMPACT_EVERY = 4


def _lm_train_score(spark, sf_dir):
    """Full bigram-LM pass: train counts + broadcast scoring."""
    docs = load_table(spark, sf_dir, "documents")
    model = lm.train_bigram_lm(docs)
    return lm.score_bigram_logprob(docs, model)


def _pq_index_search(spark, sf_dir):
    """IVF-PQ one-shot: train + assign + encode + nprobe-4 refined search.

    NOTE (r13, measured at 100×): this entry's ratio is dominated by the
    BUILD — cell assignment at √n̄ cells is n·√n̄ dots plus the
    full-corpus Arrow encode, none of it amortized (185× at 100× vs the
    search's 29–36×; SCALE.md "PQ path at 100×"). Use the
    `pq_search_persisted` entry below for the deployment-shape number.
    """
    # single-file fixture → spread for scan parallelism (the documented
    # load_table gate; a real corpus has it naturally)
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cents, members, books = pq.ivf_pq_index(emb, m=8, ksub=16, train_iters=4)
    fmembers = emb.select(
        F.col("vec_id").alias("vid"),
        similarity.as_double_array(F.col("embedding")).alias("v"),
    ).withColumn("nrm", similarity.l2_norm(F.col("v")))
    return pq.ann_ivf_pq_topk(
        emb, cents, members, books, k=3, nprobe=4, refine=12, members=fmembers
    )


# per-sf_dir IVF-PQ index cache for the persisted-search entry: the first
# (warm-up / run-1) call pays the build once, so min-of-N timing measures
# the SEARCH alone — the deployment shape, where the index is maintained
# incrementally by the streaming ingest and searches amortize the build
_PQ_INDEX_CACHE: dict = {}


def _pq_search_persisted(spark, sf_dir):
    """IVF-PQ search over a PERSISTED index (nprobe=4 + refine-12 rerank).

    The honest scale row for the PQ path's search: 100× measured 26–36×
    (vs 41–50× for exact in-cell and 185× for the one-shot build) — see
    SCALE.md "PQ path at 100×".
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    if sf_dir not in _PQ_INDEX_CACHE:
        cents, members, books = pq.ivf_pq_index(
            emb, m=8, ksub=16, train_iters=4
        )
        _PQ_INDEX_CACHE[sf_dir] = (
            cents.localCheckpoint(eager=True),
            members.localCheckpoint(eager=True),
            books,
        )
    cents, members, books = _PQ_INDEX_CACHE[sf_dir]
    fmembers = emb.select(
        F.col("vec_id").alias("vid"),
        similarity.as_double_array(F.col("embedding")).alias("v"),
    ).withColumn("nrm", similarity.l2_norm(F.col("v")))
    return pq.ann_ivf_pq_topk(
        emb, cents, members, books, k=3, nprobe=4, refine=12, members=fmembers
    )


def _bpe_train_encode(spark, sf_dir):
    """BPE: 16-merge training + full-corpus encode."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_bpe(docs, num_merges=16)
    return bpe.bpe_encode(docs, merges)


def _bpe_train_batched(spark, sf_dir):
    """Batched BPE (r8 scale path): 16 merges at merge_batch=16 — one
    top-K job per round instead of one per merge — + full-corpus encode.
    The interesting number vs bpe_train_encode is the RATIO at Kx: both
    should scale with the corpus word count, but this one's fixed
    scheduler floor is ~B x smaller."""
    docs = load_table(spark, sf_dir, "documents")
    # ratio pinned to 0 so the bench semantics (one round, ceil(N/B)
    # jobs) stay fixed across rounds regardless of the trainer's
    # drift-throttle default
    merges = bpe.train_bpe_batched(
        docs, num_merges=16, merge_batch=16, min_count_ratio=0.0
    )
    return bpe.bpe_encode(docs, merges)


def _leakage_fix(spark, sf_dir):
    """Split-leakage refold (r8): id-hash split -> cluster-grain refold.
    Inherits the near-dup pass's bucketed shape + O(log n) component
    rounds; the ratio at Kx should track the near-dup family's."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = export.split_by_hash(docs, "doc_id", {"train": 0.9, "val": 0.1})
    return export.fix_split_leakage(
        labeled, "doc_id", "text", threshold=0.5, num_hashes=8, bands=4,
        shingle_n=3,
    )


def _classifier_train_score(spark, sf_dir):
    """Quality classifier: 8 GD iterations + full-corpus scoring."""
    docs = load_table(spark, sf_dir, "documents")
    w, b = classifier.train_quality_classifier(
        docs, positive_sources={"src0", "src1"}, iters=8
    )
    return classifier.score_quality(docs, w, b)


def _span_dedup(spark, sf_dir):
    """ExactSubstr-grain passage removal; replicated fixtures make every
    document a full duplicate of its K−1 replicas, so the marked-span
    volume is the worst case (≈ the whole corpus)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return spans.remove_duplicate_spans(docs, "doc_id", "text", k=20)


def _curation(spark, sf_dir):
    """The COMPOSED pipeline (plans/curation.py): redact → heuristic gate →
    LM perplexity gate → exact dedup → near dedup → passage pass. Stages
    are measured individually elsewhere in this file; this entry times the
    composition — cache handoffs, stage fusion, and any cross-stage plan
    blow-up only the end-to-end run exposes. Returns the curated frame and
    the pipeline's cache release, which the timer runs after the noop write
    so K× runs don't accumulate executor cache across timing repetitions."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    res = curate_corpus(docs, max_perplexity=12.0, passage_dedup_k=20)
    return res.curated, res.release


def _nd_deg_scaled(spark, sf_dir):
    """Cosine near-dup degree with block_dims = 6 + ⌈log2 K⌉, K read from
    the dup fixture's directory name (``k{K}``)."""
    k = int(os.path.basename(sf_dir)[1:])
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    bd = 6 + math.ceil(math.log2(k)) if k > 1 else 6
    pairs = similarity.cosine_neardup_pairs(emb, threshold=0.4, block_dims=bd)
    return (
        pairs.select(F.col("vec_a").alias("query_id"))
        .unionByName(pairs.select(F.col("vec_b").alias("query_id")))
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("nd_degree"))
    )


# the verified near-dup pair graph, checkpointed once per fixture and
# shared by both component arms
_NEAR_PAIRS: dict = {}


def _near_pairs(spark, sf_dir):
    if sf_dir not in _NEAR_PAIRS:
        docs = load_table(spark, sf_dir, "documents", spread=True)
        _NEAR_PAIRS[sf_dir] = dedup.near_dup_pairs(
            docs, "doc_id", "text", threshold=0.4, num_hashes=4, bands=2,
            shingle_n=3,
        ).localCheckpoint(eager=True)
    return _NEAR_PAIRS[sf_dir]


def _comp_collected(spark, sf_dir):
    return dedup.duplicate_components(_near_pairs(spark, sf_dir))


def _comp_distributed(spark, sf_dir):
    return dedup.duplicate_components(
        _near_pairs(spark, sf_dir), small_graph_cap=0
    )


# timed entries that are not catalog queries: fn(spark, sf_dir) returns a
# DataFrame, or a (DataFrame, release) pair whose release runs after the
# timed write
EXTRA = {
    "lm_train_score": _lm_train_score,
    "pq_index_search": _pq_index_search,
    "pq_search_persisted": _pq_search_persisted,
    "bpe_train_encode": _bpe_train_encode,
    "bpe_train_batched": _bpe_train_batched,
    "leakage_fix": _leakage_fix,
    "classifier_train_score": _classifier_train_score,
    "span_dedup": _span_dedup,
    "curation": _curation,
    "nd_deg_scaled": _nd_deg_scaled,
    "comp_collected": _comp_collected,
    "comp_distributed": _comp_distributed,
}

SHIFTED_NAMES = [
    "dedup_semantic", "dedup_signatures", "dedup_survivors",
    "dedup_stream_snapshot", "sim_ann_ivf", "sim_cosine_topk",
    "a06_customer_rollup", "a08_pricing_summary", "a19_grouping_rollup",
    "a22_sketch_stats", "w02_outage_summary", "w07_sessionize",
    "j01_metrics_join", "lm_train_score", "pq_index_search",
    "pq_search_persisted", "bpe_train_encode", "bpe_train_batched",
    "leakage_fix", "classifier_train_score", "span_dedup", "curation",
]
DUP_NAMES = [
    "dedup_signatures", "dedup_survivors", "dedup_semantic",
    "nd_deg_scaled", "comp_collected", "comp_distributed",
]

# (table, key columns to shift so replicas don't collide)
SHIFT = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],  # user_id kept → per-user series grow K×
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "customer": [],
    "part": [],
    "supplier": [],
    "nation": [],
    "region": [],
}
OFFSET = 100_000_000


def build_scaled(
    spark, k: int, out_dir: str, tables: list[str] | None = None
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for table, keys in SHIFT.items():
        if tables is not None and table not in tables:
            continue
        src = spark.read.parquet(f"{BASE}/{table}.parquet")
        if keys and k > 1:
            parts = []
            for i in range(k):
                rep = src
                for key in keys:
                    rep = rep.withColumn(key, F.col(key) + F.lit(i * OFFSET))
                parts.append(rep)
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionByName(p)
        else:
            scaled = src
        # multiple output files → multiple row groups → natural parallelism
        n_files = max(1, min(32, scaled.rdd.getNumPartitions() * (k if keys else 1)))
        scaled.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet")
        )


def time_queries(
    spark, sf_dir: str, names: list[str], runs: int
) -> dict[str, float]:
    """min-of-``runs`` noop-write wall per entry, the entry's release step
    (if any) included."""
    cat = all_queries()
    out = {}
    for name in names:
        fn = EXTRA[name] if name in EXTRA else cat[name].fn
        for _ in range(runs):
            t0 = time.perf_counter()
            got = fn(spark, sf_dir)
            df, release = got if isinstance(got, tuple) else (got, None)
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                if release is not None:
                    release()
            el = time.perf_counter() - t0
            out[name] = min(out.get(name, el), el)
    return out


def run_shifted(spark, args) -> None:
    out_dir = os.path.join(args.scratch, f"x{args.k}")
    build_scaled(spark, args.k, out_dir, args.tables)
    base_t = time_queries(spark, BASE, args.names, args.runs)
    big_t = time_queries(spark, out_dir, args.names, args.runs)
    print(f"\n{'query':28s} {'1x':>8s} {f'{args.k}x':>8s} {'ratio':>7s}")
    for name in args.names:
        r = big_t[name] / base_t[name] if base_t[name] else float("nan")
        print(f"{name:28s} {base_t[name]:8.2f} {big_t[name]:8.2f} {r:7.2f}")
    shutil.rmtree(out_dir, ignore_errors=True)


def run_dup(spark, args) -> None:
    ks = args.ks
    results: dict[int, dict[str, float]] = {}
    sentinels: dict[int, float] = {}
    for k in ks:
        sf = os.path.join(DUP_ROOT, f"k{k}")
        if not os.path.isdir(os.path.join(sf, "documents.parquet")):
            build_dup_corpus(spark, k, sf)
        sentinels[k] = _sentinel_once(spark)
        # the component arms share one checkpointed pair graph per K,
        # built before either arm is timed
        if {"comp_collected", "comp_distributed"} & set(args.names):
            _near_pairs(spark, sf)
        timings: dict[str, float] = {}
        for name in args.names:
            timings.update(time_queries(spark, sf, [name], args.runs))
            print(f"  k={k} {name}: {timings[name]:.2f}s", flush=True)
        results[k] = timings

    base = results[ks[0]]
    hdr = "".join(f" {f'{k}x':>9s}" for k in ks)
    print(f"\n{'query':20s}{hdr}  sentinels={sentinels}")
    for name in base:
        row = "".join(f" {results[k].get(name, float('nan')):9.2f}" for k in ks)
        ratios = " ".join(
            f"{results[k][name] / base[name]:.2f}x@{k}"
            for k in ks[1:]
            if name in results[k] and base[name]
        )
        print(f"{name:20s}{row}  [{ratios}]")


def _parts(d: str) -> int:
    if not os.path.isdir(d):
        return 0
    return sum(1 for x in os.listdir(d) if x.startswith("_batch_id="))


def drive_batches(
    title: str, ingest, df, id_col: str, n_batches: int, parts: dict[str, str]
) -> None:
    """Feed ``df`` to ``ingest`` as ``n_batches`` monotone ``id_col`` ranges,
    printing per batch the wall and the part count of each ``parts`` dir
    (column name → directory)."""
    lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
    step = (hi - lo + n_batches) // n_batches
    print(f"\n{title}: {n_batches} batches, compact_every={COMPACT_EVERY}")
    print("batch  wall_s " + " ".join(parts))
    for b in range(n_batches):
        batch = df.where(
            (F.col(id_col) >= lo + b * step) & (F.col(id_col) < lo + (b + 1) * step)
        )
        t0 = time.perf_counter()
        ingest(batch, b)
        w = time.perf_counter() - t0
        counts = " ".join(f"{_parts(d):{len(c)}d}" for c, d in parts.items())
        print(f"{b:5d} {w:7.2f} {counts}")


def _novel_docs(spark, sf_dir: str):
    """Documents with replica-salted text. Key-shifted replicas carry
    IDENTICAL text — every post-first batch would be 100% duplicate
    (probe-only; parts never grow). A replica token between words makes
    replicas mutually NOVEL: each batch then both probes the grown index
    AND appends, which is the part-count curve compaction exists to bound.
    (In-replica near-dup structure is preserved — all docs of a replica
    get the same token.)"""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = F.floor(F.col("doc_id") / F.lit(OFFSET)).cast("long")
    return docs.select("doc_id", "text").withColumn(
        "text",
        F.regexp_replace(
            F.col("text"),
            F.lit(r"\s+"),
            F.concat(F.lit(" x"), rep.cast("string"), F.lit(" ")),
        ),
    )


def _novel_embeddings(spark, sf_dir: str, dim: int = 64):
    """Embeddings with replica-rotated vectors. Identical replica vectors
    would make every post-first batch 100% semantic-duplicate. Rotating
    each replica's vector by its replica index is norm-preserving, and
    rotations of random vectors are near-orthogonal, so replicas are
    mutually novel and the members/survivors part curve exercises
    compaction. The fixture's array<float> element type is kept through
    the slice/concat (mixed float/double partitions break later reads)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rep = (F.floor(F.col("vec_id") / F.lit(OFFSET)) % dim).cast("int")
    return emb.withColumn(
        "embedding",
        F.when(rep == 0, F.col("embedding")).otherwise(
            F.concat(
                F.slice(F.col("embedding"), rep + 1, F.lit(dim) - rep),
                F.slice(F.col("embedding"), 1, rep),
            )
        ).cast("array<float>"),
    )


def run_stream(spark, args) -> None:
    out_dir = os.path.join(args.scratch, f"x{args.k}")
    build_scaled(spark, args.k, out_dir, ["documents", "embeddings"])
    nd_idx, nd_surv, sd_idx, sd_surv = (
        os.path.join(args.scratch, d)
        for d in ("nd_idx", "nd_surv", "sd_idx", "sd_surv")
    )
    drive_batches(
        "near-dup ingest",
        make_near_dup_ingest(
            nd_idx, nd_surv, threshold=0.4, num_hashes=4, bands=2,
            shingle_n=3, compact_summary_every=COMPACT_EVERY,
        ),
        _novel_docs(spark, out_dir), "doc_id", args.batches,
        {"idx_parts": nd_idx, "surv_parts": nd_surv,
         "summary_parts": nd_idx + "_summary_parts"},
    )
    drive_batches(
        "semantic-dedup ingest",
        make_semantic_dedup_ingest(
            sd_idx, sd_surv, threshold=0.4, compact_every=COMPACT_EVERY
        ),
        _novel_embeddings(spark, out_dir), "vec_id", args.batches,
        {"members_parts": os.path.join(sd_idx, "members"),
         "surv_parts": sd_surv,
         "drift_parts": os.path.join(sd_idx, "drift_parts")},
    )
    shutil.rmtree(args.scratch, ignore_errors=True)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """The CLI. ``--only`` replaces a subcommand's default selection
    (``names``); ``dup`` always prepends the K=1 base point to ``ks``."""
    csv = lambda s: s.split(",")
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("shifted", help="shifted-key K× replication, 1× vs K×")
    p.add_argument("k", nargs="?", type=int, default=8)
    p.add_argument("scratch", nargs="?", default="/tmp/spark_graft_scale")
    p.add_argument("--only", dest="names", type=csv, default=SHIFTED_NAMES)
    p.add_argument("--tables", type=csv, default=None,
                   help="replicate only these tables (e.g. documents,"
                   "embeddings for a large-K text/vector run)")
    p.add_argument("--runs", type=int, default=2,
                   help="min-of-N per point; 1 for very long compositions")
    p.set_defaults(run=run_shifted)

    p = sub.add_parser("dup", help="dedup family on honest-duplicate fixtures")
    p.add_argument("ks", nargs="*", type=int)
    p.add_argument("--only", dest="names", type=csv, default=DUP_NAMES)
    p.add_argument("--runs", type=int, default=2,
                   help="min-of-N per point")
    p.set_defaults(run=run_dup)

    p = sub.add_parser("stream", help="streaming ingests over K× micro-batches")
    p.add_argument("k", nargs="?", type=int, default=64)
    p.add_argument("batches", nargs="?", type=int, default=16)
    p.add_argument("scratch", nargs="?", default="/tmp/spark_graft_stream_scale")
    p.set_defaults(run=run_stream)

    args = ap.parse_args(argv)
    if args.cmd == "dup":
        args.ks = [1] + [k for k in args.ks if k != 1]
    return args


def main() -> None:
    args = parse_args()
    spark = get_spark(app_name=f"{args.cmd}-scale-check")
    args.run(spark, args)
    spark.stop()


if __name__ == "__main__":
    main()
