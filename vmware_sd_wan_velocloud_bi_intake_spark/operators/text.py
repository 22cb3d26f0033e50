"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (SURVEY.md §7 step 10): tokenization stats, quality
scoring, n-gram language ID, and document fingerprinting over the
``documents`` table. Everything is built-in Column expressions (codegen'd,
no Python in the hot path); the only state is small literal stopword lists,
constant-folded by Catalyst.

Cross-engine determinism: fingerprints use ``md5`` (identical hex output in
Spark and DuckDB), ratios use integer counts divided once as double.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu"],
    "fr": ["le", "la", "et", "de", "un", "est", "que"],
}

NON_ALNUM = r"[^A-Za-z0-9\s]"

# BPE-style pretokenizer (GPT-2-family shape): contractions, space-prefixed
# letter runs, digit runs, punctuation runs. Plain RE2/Java-compatible so the
# identical pattern runs in Spark and the DuckDB oracle.
BPE_PRETOKEN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def _alternation(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def normalize_text(text: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical dedup key input."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0.

    Counts non-whitespace runs directly: the ``trim`` + ``split``
    formulation miscounts when the text starts or ends with tabs/newlines
    (``trim`` strips only spaces, so a leading ``\\t`` yields a phantom
    empty token — found by the Python-model property test). The coalesce
    makes null text count 0 instead of propagating null into downstream
    sums and ratios.
    """
    return F.size(
        F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(r"\S+"), 0)
    )


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token estimate: matches of the GPT-2-style pretokenizer regex.

    A cheap, deterministic proxy for tokenizer cost/size used to budget
    training-data pipelines — counts sub-word *pretokens* (contractions,
    word runs, number runs, punctuation runs), the grain real BPE merges
    start from. Pure expression; fuses into the scan.
    """
    # idx=0 (whole match): the pattern's only group is non-capturing.
    # coalesce: null text counts as 0 tokens instead of propagating null
    # into downstream sums and ratios
    return F.size(
        F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(BPE_PRETOKEN), 0)
    )


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_count(text: Column) -> Column:
    """Number of non-alphanumeric, non-whitespace characters."""
    return F.length(text) - F.length(F.regexp_replace(text, NON_ALNUM, ""))


def stopword_count(text: Column, lang: str = "en") -> Column:
    """Occurrences of the language's stopwords (word-boundary matched)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(_alternation(STOPWORDS[lang]))))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """stopwords / tokens as double; 0.0 for empty docs."""
    n = token_count(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count(text, lang).cast("double") / n.cast("double")
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length, punctuation, stopwords.

    score = 0.4·min(1, tokens/100) + 0.3·(1 − min(1, punct/chars·5))
          + 0.3·min(1, stopword_ratio·5)
    Deterministic double arithmetic (fixed operand order, integer inputs).
    """
    return quality_score_from(
        text, token_count(text), punct_count(text), stopword_count(text, "en")
    )


def quality_score_from(
    text: Column, n_toks: Column, n_punct: Column, n_sw_en: Column
) -> Column:
    """:func:`quality_score` over PRE-COMPUTED integer counts (r14).

    The three regex-extraction counts are the expensive inputs and every
    one of them is shared with another profile output column — a caller
    that stages them once as real columns (txt_profile's staging rule)
    passes them here instead of paying the regex once per consuming
    expression. Arithmetic is term-for-term identical to
    :func:`quality_score` (same operand order, same casts, counts are
    exact integers), so the produced doubles are bit-identical.
    """
    toks = n_toks.cast("double")
    chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    punct = n_punct.cast("double")
    swr = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        n_sw_en.cast("double") / n_toks.cast("double")
    )
    len_term = F.least(F.lit(1.0), toks / F.lit(100.0))
    punct_term = F.lit(1.0) - F.least(F.lit(1.0), punct / chars * F.lit(5.0))
    sw_term = F.least(F.lit(1.0), swr * F.lit(5.0))
    return (
        F.lit(0.4) * len_term + F.lit(0.3) * punct_term + F.lit(0.3) * sw_term
    )


def predict_lang(text: Column) -> Column:
    """Stopword-vote language ID over the literal lists; 'unk' on no votes.

    A real pipeline would use a trained n-gram model via a pandas UDF; the
    heuristic keeps the operator fully expression-based and oracle-checkable.
    Ties break by fixed language order (en, es, de, fr).
    """
    return predict_lang_from(
        {lang: stopword_count(text, lang) for lang in STOPWORDS}
    )


def predict_lang_from(counts: dict[str, Column]) -> Column:
    """:func:`predict_lang` over PRE-COMPUTED per-language stopword counts
    (r14) — same staging argument as :func:`quality_score_from`: the four
    regex extractions are the cost, and the en count is shared with
    n_stopwords/quality. Vote logic identical (greatest, then fixed
    en/es/de/fr tie order)."""
    best = F.greatest(*counts.values())
    expr = F.when(best == 0, F.lit("unk"))
    for lang in ["en", "es", "de", "fr"]:
        expr = expr.when(counts[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unk"))


# PII redaction patterns, applied IN ORDER (email before IP before phone
# before bare digit runs, so composite strings redact deterministically).
# Plain RE2/Java-compatible syntax — the identical pattern string runs in
# Spark's regexp_replace and the DuckDB oracle, and replacements introduce
# no digits, so sequential application is order-stable across engines.
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("PHONE", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("NUM", r"\b\d{9,19}\b"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4s, separator phones, and long digit runs with
    ``<KIND>`` placeholders — the standard scrubbing pass a training-data
    pipeline runs before anything else sees the text.

    Pure ``regexp_replace`` chain: JVM-side, codegen'd, fuses into the scan.
    """
    out = text
    for kind, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{kind}>")
    return out


def pii_count(text: Column) -> Column:
    """Total PII matches, counted per pattern against the progressively
    redacted text (identical sequencing to :func:`redact_pii`, so overlapping
    patterns never double-count)."""
    total = F.lit(0)
    cur = text
    for kind, pat in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, f"<{kind}>")
    return total


def dup_token_fraction_from(toks: Column) -> Column:
    """:func:`dup_token_fraction` over a pre-staged token-array column —
    use when the token array is materialized once and shared (see
    ``queries/textvec.txt_profile``)."""
    n = F.size(toks)
    return (n - F.size(F.array_distinct(toks))).cast("double") / n.cast("double")


def dup_token_fraction(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token — the
    Gopher-style repetition signal (high → boilerplate / spam).

    ``split`` always yields ≥1 element (empty text → ``[""]``), so the
    divisor never hits zero and empty docs score 0.0.
    """
    return dup_token_fraction_from(F.split(normalize_text(text), " "))


def bigrams_from(toks: Column) -> Column:
    """Word-bigram array from a token-array column, via ``zip_with`` over
    two shifted slices — lambdas touch only their arguments (see the
    capture warning on :func:`top_bigram_fraction_from`)."""
    m = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def top_bigram_fraction_from(g: Column) -> Column:
    """Fraction of all word-bigram occurrences taken by the single most
    frequent bigram (Gopher repetition filter; high → looping text), over a
    pre-staged bigram-array column (:func:`bigrams_from`).

    Built WITHOUT outer-capturing lambdas: higher-order functions re-evaluate
    any captured outer expression per element (no CSE across the lambda
    boundary), so a ``transform(distinct(g), d -> size(filter(g, …)))`` form
    re-runs the normalize+split of the whole document O(b²) times per row —
    measured 245 s vs 2 s on 5k docs at sf0.1. Instead the max bigram count
    is the longest run of equal adjacent elements in the sorted array — an
    O(b log b) fold whose lambdas reference only the accumulator and
    element, fused into the scan.
    """
    top = F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(1).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(1),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.coalesce(top, F.lit(0)).cast("double") / F.greatest(
        F.size(g), F.lit(1)
    ).cast("double")


def fingerprint_from(norm: Column, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of a pre-staged
    normalized-text column, truncated. md5 is byte-identical in Spark,
    DuckDB and most warehouse engines, so fingerprints are portable."""
    return F.substring(F.md5(norm), 1, length)


def pack_sequences(
    df,
    doc_id: str,
    text: str,
    budget: int,
    partition_by: str | None = None,
    drop_oversize: bool = False,
    token_count_col: str | None = None,
):
    """Concat-and-chunk token packing — assign each document its position in
    the fixed-length training sequences a pretraining pipeline would emit.

    The standard packing shape: documents are concatenated in a
    deterministic order (doc_id within ``partition_by``) and the token
    stream is cut into chunks of exactly ``budget`` tokens; a document is
    assigned to the chunk its FIRST token lands in, with ``start_offset``
    giving its position inside that chunk (documents may span into following
    chunks — ``end_chunk`` marks the last one touched). A prefix sum
    expresses this EXACTLY — chunk boundaries are pure functions of the
    cumulative token count, so no sequential fold is needed:

        pack_id      = floor(tokens_before / budget)
        start_offset = tokens_before % budget

    ``drop_oversize=True`` removes documents longer than the budget first
    (the filter-long-docs policy some pipelines prefer to spanning).

    At 100 TB: with ``partition_by`` the whole computation is one shuffle on
    the key plus one window — no driver state, no iteration. WITHOUT a key
    the order is global, and a naive ``Window.partitionBy(lit(1))`` would
    funnel the corpus through ONE task; instead the global path is a
    distributed two-pass prefix sum — range-partition by doc_id, prefix-sum
    within each physical partition, and add each partition's starting offset
    (a per-partition-totals cumulative, #partitions rows, broadcast back).
    Extra cost vs the keyed path is the range shuffle plus a tiny broadcast;
    every stage stays parallel.

    Returns (doc_id, <partition_by>, n_tokens, pack_id, start_offset,
    end_chunk, pack_seq).
    """
    from pyspark.sql import Window

    key = partition_by
    # budget accounting defaults to whitespace tokens of ``text``; pass
    # token_count_col to pack on a REAL tokenizer's counts instead (e.g.
    # n_bpe_tokens from operators/bpe.bpe_encode — plans/tokenize.py)
    n_tok = (
        F.col(token_count_col).cast("long")
        if token_count_col is not None
        else token_count(F.col(text))
    )
    staged = df.select(
        F.col(doc_id).alias("doc_id"),
        *([F.col(key)] if key else []),
        n_tok.alias("n_tokens"),
    )
    if drop_oversize:
        staged = staged.filter(F.col("n_tokens") <= budget)
    if key:
        part_cols = [F.col(key)]
        base = F.lit(0).cast("long")
    else:
        # two-pass global prefix sum: identical subtrees below share one
        # range exchange (ReusedExchange); partition ids are deterministic
        # (RangePartitioner samples with fixed per-partition seeds)
        staged = staged.repartitionByRange(F.col("doc_id")).withColumn(
            "__pid", F.spark_partition_id()
        )
        totals = staged.groupBy("__pid").agg(F.sum("n_tokens").alias("__pt"))
        w_off = (
            Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.withColumn(
            "__off", F.coalesce(F.sum("__pt").over(w_off), F.lit(0)).cast("long")
        ).select("__pid", "__off")
        staged = staged.join(F.broadcast(offsets), "__pid")
        part_cols = [F.col("__pid")]
        base = F.col("__off")
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = base + F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    packed = staged.withColumn(
        "pack_id", F.floor(before / F.lit(budget)).cast("long")
    ).withColumn("start_offset", F.pmod(before, F.lit(budget)).cast("long"))
    # last chunk this document touches (empty docs stay in their start chunk)
    end_tok = before + F.greatest(F.col("n_tokens"), F.lit(1)) - F.lit(1)
    packed = packed.withColumn(
        "end_chunk", F.floor(end_tok / F.lit(budget)).cast("long")
    )
    # pack_seq partitions on pack_id alone in the global path: a pack can
    # span two physical partitions, and (__pid, pack_id) would restart the
    # sequence at the boundary. Pack membership is bounded by the budget
    # (every non-empty doc holds ≥1 token), so the pack_id shuffle is safe.
    w_pack = (
        Window.partitionBy(F.col(key), "pack_id").orderBy("doc_id")
        if key
        else Window.partitionBy("pack_id").orderBy("doc_id")
    )
    out_cols = ["doc_id"] + ([key] if key else []) + [
        "n_tokens", "pack_id", "start_offset", "end_chunk",
    ]
    return packed.withColumn(
        "pack_seq", F.row_number().over(w_pack)
    ).select(*out_cols, "pack_seq")


def _split_literal(col: Column, delimiter: str) -> Column:
    """``F.split`` treats its pattern as a REGEX; these operators rebuild
    text with ``array_join`` using the delimiter as a LITERAL, so the
    split must be literal too (``delimiter="|"`` would otherwise split
    per character and rebuild garbage). ``\\Q…\\E`` is Java-regex literal
    quoting; a delimiter containing the closing quote is rejected rather
    than mis-split.
    """
    if "\\E" in delimiter:
        raise ValueError(r"delimiter may not contain \E")
    return F.split(col, "\\Q" + delimiter + "\\E")


def line_frequencies(
    df, doc_id: str, text_col: str, delimiter: str = "\n"
):
    """(line, df) — in how many DISTINCT documents each line occurs.

    Per-document dedup happens before the count (a doc repeating its own
    header must not inflate the corpus-wide document frequency). One
    explode + one map-side-combined ``groupBy`` on the line text; at
    100 TB the shuffle carries |distinct (doc, line)| partials, and hot
    boilerplate lines collapse into single per-partition partials before
    the exchange.
    """
    lines = df.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(_split_literal(F.col(text_col), delimiter)).alias("line"),
    ).distinct()
    return lines.groupBy("line").agg(
        F.count("*").cast("long").alias("doc_freq")
    )


def remove_boilerplate(
    df,
    doc_id: str,
    text_col: str,
    *,
    max_doc_freq: int,
    delimiter: str = "\n",
):
    """Drop lines that appear in ``max_doc_freq``-or-more distinct
    documents (C4/RefinedWeb-style boilerplate removal: navigation
    chrome, cookie banners, subscription prompts — any text shared by
    many documents is template, not content).

    Returns the input with ``text_col`` rebuilt from the surviving lines
    (original line order kept, other columns untouched). Documents whose
    every line is boilerplate keep an empty string — the quality gate
    downstream is the right place to drop them, not a silent row deletion
    here.

    Shape: line-frequency pass (see :func:`line_frequencies`), then
    ``posexplode`` → anti-join on the boilerplate lines → ordered
    re-aggregation keyed by doc — two line-keyed shuffles and one
    doc-keyed shuffle, no driver state. The boilerplate relation is NOT
    assumed broadcastable (its size is corpus-dependent); Spark/AQE
    chooses the join strategy from its actual size.
    """
    boiler = (
        line_frequencies(df, doc_id, text_col, delimiter)
        .where(F.col("doc_freq") >= F.lit(max_doc_freq))
        .select("line")
    )
    pos_lines = df.select(
        F.col(doc_id).alias("doc_id"),
        F.posexplode(_split_literal(F.col(text_col), delimiter)).alias(
            "pos", "line"
        ),
    )
    kept = pos_lines.join(boiler, "line", "left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("pl")
        )
        .select(
            "doc_id",
            F.array_join(F.transform("pl", lambda s: s["line"]), delimiter).alias(
                "__rebuilt"
            ),
        )
    )
    others = [c for c in df.columns if c != text_col]
    out = (
        df.select(*df.columns)
        .withColumnRenamed(doc_id, "doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            *[F.col(c) for c in ("doc_id" if c == doc_id else c for c in others)],
            F.coalesce(F.col("__rebuilt"), F.lit("")).alias(text_col),
        )
        .withColumnRenamed("doc_id", doc_id)
    )
    return out.select(*df.columns)


def chunk_documents(
    df,
    doc_id: str,
    text_col: str,
    *,
    chunk_tokens: int,
    overlap_tokens: int = 0,
):
    """Split long documents into fixed-token-budget chunks with optional
    overlap — the pre-tokenization step every pretraining pipeline runs on
    documents longer than the model context (contrast :func:`pack_sequences`,
    which packs SHORT documents UP to a budget; chunking cuts LONG ones
    DOWN, and the two compose: chunk, then pack the chunks).

    Returns (doc_id, chunk_id, n_chunks, chunk_text, n_chunk_tokens):
    ``chunk_id`` is 0-based within the document and chunk boundaries fall
    on whitespace-token edges. Consecutive chunks share ``overlap_tokens``
    tokens so no cross-boundary context is ever fully lost (the standard
    sliding-window rule; stride = chunk − overlap). Documents at or under
    the budget come back as their own single chunk, so row lineage is
    total: every input doc appears, every chunk maps to exactly one doc.
    ``chunk_text`` preserves the original casing and characters; the one
    lossy step is that whitespace RUNS collapse to single spaces (token
    rejoin — newline structure does not survive a token-window cut).

    Pure array expressions fused into the scan — tokenization is one
    ``split``, chunks are ``slice`` windows over the token array via
    ``transform(sequence(...))``, then one ``posexplode``. No shuffle, no
    Python; at 100 TB this is scan-bound exactly like the profile ops.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("overlap_tokens must satisfy 0 <= overlap < chunk")
    stride = chunk_tokens - overlap_tokens
    # tokenize the RAW text (non-whitespace runs): chunk output is training
    # text, so casing and punctuation must survive — normalize_text here
    # would silently lowercase the whole corpus. Within a chunk, runs of
    # whitespace collapse to single spaces (the one lossy step; inherent
    # to token-array rejoin and disclosed above).
    toks = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(r"\S+"), 0
    )
    n = F.size(toks)
    # number of stride-starts needed to cover n tokens: ceil((n-overlap)/stride),
    # floored at 1 so empty/short docs yield exactly one chunk
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap_tokens)).cast("double") / F.lit(stride)).cast(
            "int"
        ),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * stride + 1, chunk_tokens), " "
        ),
    )
    staged = df.select(
        F.col(doc_id).alias("doc_id"),
        n_chunks.alias("n_chunks"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    )
    return staged.select(
        "doc_id",
        "chunk_id",
        "n_chunks",
        "chunk_text",
        token_count(F.col("chunk_text")).alias("n_chunk_tokens"),
    )
