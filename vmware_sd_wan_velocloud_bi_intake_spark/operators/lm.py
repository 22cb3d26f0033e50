"""Corpus-level statistical language model: train + score, fully distributed.

A standard data-curation signal the per-document heuristics in
``operators/text.py`` can't produce: how *typical* a document's word
sequences are of the corpus (CCNet/KenLM-style perplexity filtering —
documents whose bigrams are improbable under a corpus model are boilerplate,
spam, or wrong-language). Two distributed passes:

1. **Train** (:func:`train_bigram_lm`): one scan exploding each document
   into word bigrams → two map-side-combined ``groupBy`` counts (bigram and
   unigram context). Counts for hot tokens ("the") are heavily skewed per
   key, but partial aggregation reduces each partition to one row per key
   before the exchange, so the shuffle carries |vocab| rows, not |corpus|.
   Model truncation is by ``min_count`` (deterministic — no top-k ties),
   mirroring real LM pruning.
2. **Score** (:func:`score_bigram_logprob`): explode the documents to be
   scored, left-join the model, and aggregate back per document: one
   shuffle keyed by doc_id. The pruned bigrams broadcast by default; the
   UNpruned contexts table broadcasts only when the model's own trained
   vocabulary statistic proves it small (statistics-driven hint, see the
   function docstring) — at web-scale vocabularies it is left to AQE.

Probability model: add-k (Lidstone) smoothing over the conditional
``P(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` with ``V`` = training
vocabulary size; pruned/unseen bigrams fall back to their context count,
unseen contexts to the uniform ``1/V`` floor. Per-document score =
mean log₂ P over its bigrams; ``perplexity = 2^(−mean)``.

No reference analog (beyond-reference LLM-pipeline surface, same family as
operators/text.py quality signals). All expressions JVM-side; determinism:
the per-doc mean sums doubles whose addition order varies with partitioning,
so catalog-grade comparisons round to 6 places like every other double in
the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text

# contexts rows above this bound are never hint-broadcast: ~40 B/row of
# (token, long) puts 1M rows ≈ 40 MB — the edge of a comfortable executor
# broadcast; beyond it AQE decides from measured sizes
CONTEXT_BROADCAST_MAX_VOCAB = 1_000_000


@dataclass
class BigramLM:
    """Trained model relations. ``bigrams`` is min-count-pruned;
    ``contexts`` is NOT (full first-token vocabulary — the probability
    normalizer must cover unpruned mass), so only ``bigrams`` is
    small-by-construction."""

    bigrams: DataFrame  # (w1, w2, n_big)
    contexts: DataFrame  # (w1, n_ctx)  — UNpruned context totals
    vocab_size: int  # |distinct tokens| in training corpus
    smoothing_k: float


def _doc_bigrams(df: DataFrame, doc_id: str, text_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram occurrence."""
    toks = F.split(text.normalize_text(F.col(text_col)), " ")
    m = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return df.select(
        F.col(doc_id).alias("doc_id"), F.explode(pairs).alias("p")
    ).select("doc_id", "p.w1", "p.w2")


def train_bigram_lm(
    df: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    *,
    min_count: int = 2,
    smoothing_k: float = 0.5,
    materialize: bool = False,
) -> BigramLM:
    """Count bigrams/contexts over the corpus; prune bigrams below
    ``min_count``. Context totals stay unpruned so the smoothed conditional
    stays a true probability over the full vocabulary.

    One bigram-explode pass feeds BOTH counts: ``n_ctx(w1) = Σ_w2
    n_big(w1, w2)`` exactly (a context occurrence IS a bigram occurrence
    with that first word), so contexts aggregate from the pre-pruning
    bigram counts — |bigram-vocab| rows — instead of re-exploding the
    corpus. The vocabulary size still needs its own token pass (last
    tokens and single-token docs never appear as w1).

    ``materialize=True`` localCheckpoints the shared pre-pruning counts
    (|bigram vocab| rows, the already-aggregated relation): a scorer
    broadcasts ``bigrams`` AND ``contexts``, and each broadcast build
    left lazy would re-run the corpus explode — with the checkpoint the
    corpus is exploded exactly once per model."""
    big_counts = (
        _doc_bigrams(df, doc_id, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_big"))
    )
    toks = F.explode(F.split(text.normalize_text(F.col(text_col)), " "))
    vocab_job = lambda: (  # noqa: E731 — named for the overlap below
        df.select(toks.alias("w")).agg(F.countDistinct("w")).collect()[0][0]
    )
    if materialize:
        # r14 (§2.6): the vocabulary count and the counts checkpoint are
        # two independent jobs over the same input — run them together
        # instead of paying two serial driver actions
        from ..functions.conf import run_together

        vocab_size, big_counts = run_together(
            df.sparkSession,
            [vocab_job, lambda: big_counts.localCheckpoint(eager=True)],
        )
    else:
        vocab_size = vocab_job()
    bigrams = big_counts.filter(F.col("n_big") >= min_count)
    contexts = big_counts.groupBy("w1").agg(F.sum("n_big").alias("n_ctx"))
    if not vocab_size:
        # an empty training corpus would make the smoothing denominator
        # (n_ctx + k·V) zero for unseen contexts — Spark's non-ANSI division
        # returns NULL there while an IEEE engine (DuckDB) yields ±inf
        # through log2, so train/score would silently diverge across
        # engines instead of failing loudly here at train time
        raise ValueError(
            "train_bigram_lm: training corpus is empty (vocab_size == 0) — "
            "scoring with k-smoothing needs at least one observed token"
        )
    return BigramLM(
        bigrams=bigrams,
        contexts=contexts,
        vocab_size=int(vocab_size or 0),
        smoothing_k=smoothing_k,
    )


def score_bigram_logprob(
    df: DataFrame,
    model: BigramLM,
    doc_id: str = "doc_id",
    text_col: str = "text",
    *,
    broadcast_bigrams: bool = True,
    broadcast_contexts: bool | None = None,
    complete: bool = True,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_log2p, perplexity) per scored document.

    Documents with zero bigrams (≤1 token) score NULL avg/perplexity rather
    than a fake 0 — absence of evidence, surfaced as such.

    ``complete=False`` skips the distinct-ids join that backfills those
    ≤1-token documents (they are simply absent from the result) — for
    callers that LEFT-join the scores onto a relation already carrying
    one row per document (e.g. the txt_profile rider), where the
    backfill would be a redundant corpus-wide distinct + join.

    Join strategy is decided PER RELATION (an all-or-nothing flag would
    force-broadcast the unpruned contexts table alongside the small pruned
    bigrams): ``broadcast_bigrams`` defaults True — min-count pruning makes
    that side small-by-construction. ``broadcast_contexts`` defaults None =
    statistics-driven: the trained model already carries the exact
    first-token cardinality bound (``vocab_size``, an ANALYZE-style stat
    collected during training), so the hint is applied only when the
    context table provably fits an executor broadcast
    (≤ :data:`CONTEXT_BROADCAST_MAX_VOCAB` rows); above that the relation
    is left unhinted and AQE picks the strategy from actual runtime sizes.
    Pass an explicit bool to override either way.
    """
    k = F.lit(model.smoothing_k)
    v = F.lit(float(model.vocab_size))
    if broadcast_contexts is None:
        broadcast_contexts = model.vocab_size <= CONTEXT_BROADCAST_MAX_VOCAB

    def side(rel: DataFrame, hint: bool) -> DataFrame:
        return F.broadcast(rel) if hint else rel

    occ = _doc_bigrams(df, doc_id, text_col)
    joined = (
        occ.join(side(model.bigrams, broadcast_bigrams), ["w1", "w2"], "left")
        .join(side(model.contexts, broadcast_contexts), ["w1"], "left")
        .select(
            "doc_id",
            (
                (F.coalesce(F.col("n_big"), F.lit(0)).cast("double") + k)
                / (F.coalesce(F.col("n_ctx"), F.lit(0)).cast("double") + k * v)
            ).alias("p"),
        )
    )
    logp: Column = F.log2(F.col("p"))
    scored = (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(logp).alias("avg_log2p"),
        )
        .withColumn("perplexity", F.pow(F.lit(2.0), -F.col("avg_log2p")))
    )
    if not complete:
        return scored
    # explode drops ≤1-token docs from `occ`; join them back so every input
    # document gets a row (n_bigrams=0, NULL score)
    ids = df.select(F.col(doc_id).alias("doc_id")).distinct()
    return ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        "avg_log2p",
        "perplexity",
    )
