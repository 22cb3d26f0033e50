"""Duplicated-passage detection and removal (ExactSubstr-style dedup).

Doc-level dedup (operators/dedup.py) drops whole near-identical documents;
this module removes REPEATED PASSAGES — quotes, licence blocks, syndicated
paragraphs — that recur across otherwise-distinct documents. Lee et al.
2021 ("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) showed substring-level dedup is the half that measurably
reduces memorization; their single-machine suffix array does not shard,
so the engine uses the k-gram-grain equivalent that does:

1. every k-token shingle of every document → ``(hash, doc_id, pos)``
   (one narrow map, hashes built in-array before the explode);
2. ONE map-side-combined ``groupBy(hash)`` finds shingles occurring more
   than once and elects the lexicographically-first ``(doc_id, pos)``
   occurrence as the canonical owner;
3. every NON-owner occurrence of a duplicated shingle marks its k tokens;
   overlapping/adjacent marks merge into maximal spans per document
   (gaps-and-islands, the w02 pattern — one doc-keyed window);
4. removal filters the marked token ranges out of the token stream and
   rebuilds the text.

Resolution contract: a duplicated passage of L ≥ k tokens yields L−k+1
duplicated shingles whose union covers it exactly, so detected spans are
the maximal duplicated runs at k-token grain; passages shorter than ``k``
are below the resolution floor and survive (the paper's threshold plays
the same role — they use 50 tokens). Owner election is best-effort
preservation, as in ExactSubstr: each duplicated shingle's owner
occurrence is never marked, so shared content usually keeps a copy — but
when duplicated passages OVERLAP, two shingles can elect owners in
different documents and a non-owner mark in one doc may cover tokens of
that doc's owner occurrence of the other shingle, leaving no fully-intact
copy of the overlapping region anywhere (Lee et al. accept the same:
"deduplication is lossy at the margins").

Scale shape: the shingle stream is |corpus tokens| narrow rows — linear,
never pairwise. The duplicate relation after the groupBy holds ONLY
hashes seen twice-plus (web corpora: a few percent), and the join back to
occurrences is a plain equi-join AQE can skew-split when one shingle goes
viral (a window over ``hash`` could not split that partition — why this
is groupBy+join, not a window). Span merge shuffles once on ``doc_id``.
No driver state, no collect.

Hashing: ``xxhash64`` (JVM, 8-byte shuffle rows) by default; a 64-bit
collision marks a non-duplicated shingle as duplicated and costs k
spuriously-removed tokens — acceptable for corpus cleaning at 10^13
shingles, but auditable: pass ``hash_fn="md5"`` (128-bit, 32-byte rows)
when provenance review needs collision odds ~0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HASH_FNS = {
    "xxhash64": F.xxhash64,
    "md5": lambda c: F.md5(c.cast("string")),
}


def _tokens(text_col: str) -> Column:
    # raw \S+ runs: output is training text, so casing/punctuation must
    # survive (normalize_text would lowercase the corpus)
    return F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(r"\S+"), 0
    )


def _shingle_occurrences(
    df: DataFrame, doc_id: str, text_col: str, k: int, hash_fn: str
) -> DataFrame:
    """(doc_id, pos, h) — one row per k-token shingle occurrence. The
    hash array builds per-row BEFORE the explode (narrow-signature rule:
    the exchange carries 8-byte hashes, never token text)."""
    try:
        hf = _HASH_FNS[hash_fn]
    except KeyError:
        raise ValueError(f"hash_fn must be one of {sorted(_HASH_FNS)}")
    staged = df.select(
        F.col(doc_id).alias("doc_id"), _tokens(text_col).alias("_toks")
    ).withColumn("_n_sh", F.size("_toks") - F.lit(k - 1))
    return (
        staged.where(F.col("_n_sh") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_n_sh") - 1),
                    lambda i: hf(
                        F.array_join(F.slice("_toks", i + 1, k), " ")
                    ),
                )
            ).alias("pos", "h"),
        )
    )


_POS_BITS = 22  # 4M tokens per document


def _pack_owner(doc: Column, pos: Column) -> Column:
    """(doc_id, pos) → one long whose ordering equals the lexicographic
    struct ordering. Bounds-checked: ``assert_true`` turns an
    out-of-contract id into a task failure, never a silent wrong owner."""
    ok = (
        (doc >= 0)
        & (doc < F.lit(1 << (63 - _POS_BITS)))
        & (pos < F.lit(1 << _POS_BITS))
    )
    guarded = F.when(
        F.assert_true(
            ok, "doc_id/pos outside the owner-packing contract"
        ).isNull(),
        F.shiftleft(doc, _POS_BITS) + pos,
    )
    return guarded


def duplicate_spans(
    df: DataFrame,
    doc_id: str,
    text_col: str,
    *,
    k: int = 20,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, start_tok, end_tok) — maximal token ranges (0-based,
    end-exclusive) covered by non-owner occurrences of duplicated
    k-shingles. Every span is ≥ k tokens by construction.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    sh = _shingle_occurrences(df, doc_id, text_col, k, hash_fn)
    # owner election packs (doc_id, pos) into ONE long: min over a struct
    # is not hash-aggregable (Catalyst falls back to SortAggregate, which
    # sorts the entire shingle stream per partition before the partials);
    # min over a long keeps the aggregate a pure HashAggregate with
    # map-side combine. 2^22 positions (4M tokens/doc) × 2^41 doc ids is
    # the packing contract, guarded per row so a violation fails loudly
    # instead of electing a wrong owner.
    packed = _pack_owner(F.col("doc_id"), F.col("pos"))
    dups = (
        sh.groupBy("h")
        .agg(
            F.count("*").alias("_c"),
            F.min(packed).alias("_owner"),
        )
        .where(F.col("_c") > 1)
        .select("h", "_owner")
    )
    marked = (
        sh.join(dups, "h")
        .where(packed != F.col("_owner"))
        .select("doc_id", "pos", (F.col("pos") + F.lit(k)).alias("end"))
    )
    # gaps-and-islands over coverage: a new span starts only when this
    # shingle begins STRICTLY past everything covered so far (pos ==
    # running end means adjacent coverage — merge)
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.select(
        "doc_id",
        "pos",
        "end",
        F.sum(
            (F.col("pos") > F.coalesce(prev_end, F.lit(-1)))
            .cast("int")
        )
        .over(w)
        .alias("_isl"),
    )
    return islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").alias("start_tok"), F.max("end").alias("end_tok")
    ).select("doc_id", "start_tok", "end_tok")


def remove_duplicate_spans(
    df: DataFrame,
    doc_id: str,
    text_col: str,
    *,
    k: int = 20,
    hash_fn: str = "xxhash64",
    spans_df: DataFrame | None = None,
    keep_span_stats: bool = False,
) -> DataFrame:
    """The input with every duplicated non-owner passage cut out of
    ``text_col`` (other columns untouched, no rows dropped).

    ``spans_df`` lets a caller that already materialized
    :func:`duplicate_spans` output (doc_id, start_tok, end_tok) reuse it
    instead of re-running the shingle pipeline.

    ``keep_span_stats`` appends two observability columns per row —
    ``n_dup_spans`` and ``span_tokens_cut`` (0 for untouched docs) —
    computed inside the SAME per-doc aggregation the rebuild already
    pays, so reporting what was cut costs nothing extra. The
    dedup_survivors catalog vehicle hash-checks the span pass through
    these plus the rebuilt-text length (a separate duplicate_spans
    branch would re-run the whole shingle pipeline once per consumer).

    Documents with nothing to cut keep their ORIGINAL text byte-for-byte;
    a cut document's text is rebuilt from its surviving tokens, so its
    whitespace runs collapse to single spaces (a trade-off inherent to
    token-array surgery, disclosed not hidden). A
    document that was entirely duplicated content comes back as the empty
    string; the downstream quality gate is where such rows die, not a
    silent deletion here.
    """
    spans = (
        spans_df
        if spans_df is not None
        else duplicate_spans(df, doc_id, text_col, k=k, hash_fn=hash_fn)
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans"),
        F.count("*").alias("_n_spans"),
        F.sum(F.col("end_tok") - F.col("start_tok"))
        .cast("long")
        .alias("_tokens_cut"),
    )
    joined = df.join(
        per_doc, df[doc_id] == per_doc["doc_id"], "left"
    ).drop(per_doc["doc_id"])
    # stage the two heavy shared intermediates as real columns (the
    # txt_profile staging rule): the token array (a regex extraction over
    # the whole text) is consumed by every gap slice AND the tail slice
    # AND the size() bound, and the sorted span array by the gap transform
    # and the tail lookup — unstaged, Catalyst re-evaluates each per use.
    # The token array is guarded on _spans: only span-carrying docs (a few
    # percent of a web corpus) are rebuilt, so the untouched majority must
    # not pay a second corpus-wide regex tokenization here — CaseWhen
    # branches evaluate lazily, and every _toks consumer sits inside the
    # rebuild's otherwise() branch, which those rows never reach.
    joined = joined.select(
        "*",
        F.when(F.col("_spans").isNotNull(), _tokens(text_col)).alias(
            "_toks"
        ),
        F.array_sort(F.col("_spans")).alias("_sp"),  # disjoint → start_tok sorts
    )
    sp = F.col("_sp")
    toks = F.col("_toks")
    # O(T+S) rebuild: the spans are disjoint and sorted, so the kept text
    # is exactly the GAPS between them — [prev.end, cur.start) per span
    # plus the tail after the last span. Each gap is one slice; flatten
    # copies every surviving token once. (The r6 shape — per-token
    # F.exists over the span array — was O(T×S)/doc and quadratic on a
    # pathological doc with thousands of disjoint duplicated passages.)
    gaps = F.transform(
        sp,
        lambda s, i: F.struct(
            F.when(i == 0, F.lit(0).cast("long"))
            .otherwise(F.element_at(sp, i)["end_tok"])  # 1-based: prev
            .alias("lo"),
            s["start_tok"].alias("hi"),
        ),
    )
    tail_lo = F.element_at(sp, -1)["end_tok"]
    kept = F.concat(
        F.flatten(
            F.transform(
                gaps,
                lambda g: F.slice(
                    toks,
                    (g["lo"] + 1).cast("int"),
                    (g["hi"] - g["lo"]).cast("int"),
                ),
            )
        ),
        F.slice(
            toks,
            (tail_lo + 1).cast("int"),
            F.greatest(
                F.size(toks) - tail_lo.cast("int"), F.lit(0)
            ),
        ),
    )
    rebuilt = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.array_join(kept, " ")
    )
    out_cols = [
        rebuilt.alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    if keep_span_stats:
        out_cols += [
            F.coalesce("_n_spans", F.lit(0).cast("long")).alias("n_dup_spans"),
            F.coalesce("_tokens_cut", F.lit(0).cast("long")).alias(
                "span_tokens_cut"
            ),
        ]
    return joined.select(*out_cols)
