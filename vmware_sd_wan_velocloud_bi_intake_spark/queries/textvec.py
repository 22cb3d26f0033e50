"""Text-analysis, dedup, and vector-similarity query catalog (SURVEY.md §7
step 10 — the beyond-reference training-data-pipeline surface), plus the
reference's string-function operators (F1–F3) exercised on real text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe, classifier, dedup, lm, pq, similarity, spans, text
from ..sources.tables import load_table
from .base import (
    Q,
    micro_batch_confs,
    stage_checkpoint,
    stage_checkpoints_concurrent,
)


# --------------------------------------------------------------------------
# Per-document text profile (beyond-ref; F1/F3/F8-style parsing discipline):
# token/char/punct stats, BPE-ish pretoken budget, quality score, stopword
# language ID, and the normalized-content md5 fingerprint — ONE scan, pure
# expressions. Consolidates the former txt_token_stats / txt_bpe_tokens /
# txt_quality / txt_fingerprint catalog entries (identical operators, one
# vehicle) so every entry fits the driver's per-round correctness window.
# --------------------------------------------------------------------------
_SW = {
    "en": r"\b(the|and|of|to|in|is|a)\b",
    "es": r"\b(el|la|de|que|y|en|un)\b",
    "de": r"\b(der|die|und|das|ist|ein|zu)\b",
    "fr": r"\b(le|la|et|de|un|est|que)\b",
}

# r12 rider (VERDICT r11 #3): the corpus bigram-LM perplexity gate
# (operators/lm.py — the CCNet/KenLM-style curation signal) rides the
# profile vehicle: train on a DETERMINISTIC corpus slice (doc_id ≡ 0
# mod 5 — the CCNet shape: the model comes from a reference slice, the
# whole corpus gets scored; at 100 TB this bounds model-build cost at
# O(slice) while scoring stays one pass), score every document, carry
# the rounded per-doc log-probability under the same hash. Same
# min_count/smoothing knobs as the tests/test_lm.py full-corpus oracle
# so the two replays pin identical arithmetic.
_LM_MIN_COUNT = 2
_LM_K = 0.5
_LM_TRAIN_MOD = 5


def txt_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # PII columns run over the RAW text — the production shape; every
    # pattern is pinned on adversarial inputs by tests/test_text_pipeline.py.
    # On PII-free fixture text the raw-text chain still verifies ordering +
    # the no-false-positive direction cross-engine via ``pii_md5``, and a
    # no-match regexp_replace returns its input cheaply, so the chain rides
    # the scan at ~zero cost.
    # Stage the shared heavy intermediates (normalized text, its token
    # array, the bigram array) as real columns: CollapseProject keeps a
    # projection boundary when a produced non-cheap expression is consumed
    # more than once below, so each computes ONCE per row instead of once
    # per consuming output column (the fused single-select form re-ran the
    # normalize regexp 4× and the split 5× per row; staged is ~30% faster
    # at sf0.1 with identical values).
    # r14 (VERDICT r13 #4): the scalar regex COUNTS join the staged
    # intermediates. token_count was evaluated 4× per row (n_tokens,
    # avg_token_len, quality's length term, quality's stopword-ratio
    # denominator), the en-stopword extraction 3× (n_stopwords, quality,
    # predict_lang's vote), the es/de/fr extractions 2× each inside
    # predict_lang's conditional branches (CaseWhen keeps codegen's
    # subexpression elimination from unifying them), punct 2×. Staging
    # them once per row and rebuilding the consumers from the staged
    # integers (text.quality_score_from / predict_lang_from — identical
    # operand order, so identical doubles) makes each regex run once.
    staged = (
        docs.select(
            "doc_id",
            "lang",
            "source",
            "text",
            text.normalize_text(t).alias("_norm"),
        )
        .select("*", F.split(F.col("_norm"), " ").alias("_toks"))
        .select(
            "*",
            text.bigrams_from(F.col("_toks")).alias("_bigrams"),
            text.token_count(t).alias("_ntok"),
            text.punct_count(t).alias("_npun"),
            *[
                text.stopword_count(t, lang).alias(f"_sw_{lang}")
                for lang in text.STOPWORDS
            ],
        )
    )
    # The PII chain is deliberately NOT staged like _norm/_toks: although
    # pii_count and md5(redact_pii) share the progressive redactions
    # (4 redundant regexp_replace per row unstaged), a no-match
    # regexp_replace returns the input string cheaply, while staging the
    # four intermediates forces four full-string materializations through
    # projection boundaries — measured 0.84 s staged vs 0.58 s unstaged
    # on the sf0.1 documents (the staging rule pays only for compute-heavy
    # intermediates, not mostly-no-op string passes).
    # LM rider: one trained model (shared pre-pruning counts checkpointed
    # once + the vocab statistic), scores LEFT-joined per doc_id.
    # complete=False — the profile row set already covers every document,
    # so the score relation's own ≤1-token backfill join would be
    # redundant.
    # r14 note (VERDICT r13 #4, part 2 — measured and NOT shipped): an
    # eager narrow (doc_id, tokens) checkpoint feeding the rider's three
    # passes (train counts, vocab statistic, score explode) collapses
    # three tokenizations into one, but the extra serial action costs
    # more than the saved regex at sf0.1 (interleaved A/B: mins
    # 2.478 old / 2.709 staged on a clean window) — the same
    # local-floor-vs-scale trade sim_ann_ivf already carries once;
    # this vehicle is 14 jobs × ~0.2 s floor, not regex-bound.
    model = lm.train_bigram_lm(
        docs.where((F.col("doc_id") % _LM_TRAIN_MOD) == 0),
        min_count=_LM_MIN_COUNT,
        smoothing_k=_LM_K,
        materialize=True,
    )
    lm_scores = lm.score_bigram_logprob(docs, model, complete=False).select(
        "doc_id",
        F.col("n_bigrams").alias("lm_n_bigrams"),
        F.round("avg_log2p", 6).alias("lm_avg_log2p_r6"),
        F.round("perplexity", 6).alias("lm_ppl_r6"),
    )
    norm, toks, g = F.col("_norm"), F.col("_toks"), F.col("_bigrams")
    ntok, npun = F.col("_ntok"), F.col("_npun")
    return staged.select(
        "doc_id",
        "lang",
        "source",
        ntok.alias("n_tokens"),
        text.char_count(t).alias("n_chars_txt"),
        npun.alias("n_punct"),
        (
            (F.length(F.regexp_replace(t, r"\s+", "")).cast("double"))
            / F.greatest(ntok, F.lit(1)).cast("double")
        ).alias("avg_token_len"),
        text.bpe_token_count(t).alias("n_bpe"),
        F.col("_sw_en").alias("n_stopwords"),
        text.quality_score_from(t, ntok, npun, F.col("_sw_en")).alias(
            "quality"
        ),
        text.predict_lang_from(
            {lang: F.col(f"_sw_{lang}") for lang in text.STOPWORDS}
        ).alias("lang_pred"),
        text.fingerprint_from(norm).alias("fp16"),
        F.length(norm).alias("n_norm_chars"),
        text.pii_count(t).alias("n_pii"),
        F.md5(text.redact_pii(t)).alias("pii_md5"),
        F.round(text.dup_token_fraction_from(toks), 6).alias("dup_tok_frac_r6"),
        F.round(text.top_bigram_fraction_from(g), 6).alias("top2_frac_r6"),
    ).join(lm_scores, "doc_id", "left").withColumn(
        "lm_n_bigrams", F.coalesce("lm_n_bigrams", F.lit(0).cast("long"))
    )


TXT_PROFILE_ORACLE = rf"""
WITH base AS (
  SELECT
    doc_id,
    lang,
    source,
    text,
    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
    len(regexp_extract_all(coalesce(text, ''), '\S+')) AS n_tokens,
    GREATEST(length(text), 1) AS n_chars,
    length(text) AS n_chars_txt,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS n_punct,
    len(regexp_extract_all(coalesce(text, ''),
        '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS n_bpe,
    len(regexp_extract_all(lower(text), '{_SW["en"]}')) AS sw_en,
    len(regexp_extract_all(lower(text), '{_SW["es"]}')) AS sw_es,
    len(regexp_extract_all(lower(text), '{_SW["de"]}')) AS sw_de,
    len(regexp_extract_all(lower(text), '{_SW["fr"]}')) AS sw_fr
  FROM documents
), scored AS (
  SELECT *,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE CAST(sw_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS swr,
    GREATEST(sw_en, sw_es, sw_de, sw_fr) AS sw_best
  FROM base
), red AS (
  -- sequential PII redaction, same pattern order as operators.text.PII_PATTERNS
  SELECT *, regexp_replace(text, '__PII_EMAIL__', '<EMAIL>', 'g') AS r1 FROM scored
), red2 AS (
  SELECT *, regexp_replace(r1, '__PII_IP__', '<IP>', 'g') AS r2 FROM red
), red3 AS (
  SELECT *, regexp_replace(r2, '__PII_PHONE__', '<PHONE>', 'g') AS r3 FROM red2
), red4 AS (
  SELECT *, regexp_replace(r3, '__PII_NUM__', '<NUM>', 'g') AS r4 FROM red3
), grams AS (
  SELECT *, list_transform(generate_series(1, GREATEST(len(w) - 1, 0)),
                           i -> w[i] || ' ' || w[i + 1]) AS g
  FROM red4
), lmocc AS (
  -- bigram-LM rider: train-then-score replay (operators/lm.py semantics,
  -- same CTE shape as the tests/test_lm.py oracle), reusing base.w (the
  -- normalized token array the profile already computes)
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM base,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) > 1
), lmbig AS (
  -- the model trains on the deterministic doc_id % {_LM_TRAIN_MOD} = 0
  -- reference slice; the score pass (lmocc, unfiltered) covers everything
  SELECT w1, w2, COUNT(*) AS n_big FROM lmocc
  WHERE doc_id % {_LM_TRAIN_MOD} = 0 GROUP BY 1, 2
  HAVING COUNT(*) >= {_LM_MIN_COUNT}
), lmctx AS (
  SELECT w1, COUNT(*) AS n_ctx FROM lmocc
  WHERE doc_id % {_LM_TRAIN_MOD} = 0 GROUP BY 1
), lmvocab AS (
  SELECT COUNT(DISTINCT x) AS v
  FROM (SELECT unnest(w) AS x FROM base WHERE doc_id % {_LM_TRAIN_MOD} = 0)
), lmprobs AS (
  SELECT o.doc_id,
         (COALESCE(b.n_big, 0)::DOUBLE + {_LM_K})
           / (COALESCE(c.n_ctx, 0)::DOUBLE + {_LM_K} * lmvocab.v) AS p
  FROM lmocc o
  LEFT JOIN lmbig b USING (w1, w2)
  LEFT JOIN lmctx c USING (w1)
  CROSS JOIN lmvocab
), lms AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, AVG(log2(p)) AS avg_log2p
  FROM lmprobs GROUP BY doc_id
)
SELECT
  doc_id,
  lang,
  source,
  n_tokens,
  n_chars_txt,
  n_punct,
  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
    / GREATEST(n_tokens, 1) AS avg_token_len,
  n_bpe,
  sw_en AS n_stopwords,
  0.4 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
    + 0.3 * (1.0 - LEAST(1.0, CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) * 5.0))
    + 0.3 * LEAST(1.0, swr * 5.0) AS quality,
  CASE WHEN sw_best = 0 THEN 'unk'
       WHEN sw_en = sw_best THEN 'en'
       WHEN sw_es = sw_best THEN 'es'
       WHEN sw_de = sw_best THEN 'de'
       WHEN sw_fr = sw_best THEN 'fr'
       ELSE 'unk' END AS lang_pred,
  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp16,
  length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_norm_chars,
  len(regexp_extract_all(text, '__PII_EMAIL__'))
    + len(regexp_extract_all(r1, '__PII_IP__'))
    + len(regexp_extract_all(r2, '__PII_PHONE__'))
    + len(regexp_extract_all(r3, '__PII_NUM__')) AS n_pii,
  md5(r4) AS pii_md5,
  ROUND((len(w) - len(list_distinct(w)))::DOUBLE / len(w), 6) AS dup_tok_frac_r6,
  ROUND(COALESCE(list_max(list_transform(list_distinct(g),
            d -> len(list_filter(g, y -> y = d)))), 0)::DOUBLE
        / GREATEST(len(g), 1), 6) AS top2_frac_r6,
  CAST(COALESCE(lms.n_bigrams, 0) AS BIGINT) AS lm_n_bigrams,
  ROUND(lms.avg_log2p, 6) AS lm_avg_log2p_r6,
  ROUND(POWER(2.0, -lms.avg_log2p), 6) AS lm_ppl_r6
FROM grams
LEFT JOIN lms USING (doc_id)
"""

# inject the PII pattern literals AFTER f-interpolation: the patterns contain
# regex braces ({2,}) that an f-string would treat as replacement fields
for _kind, _pat in text.PII_PATTERNS:
    TXT_PROFILE_ORACLE = TXT_PROFILE_ORACLE.replace(f"__PII_{_kind}__", _pat)


# --------------------------------------------------------------------------
# Dedup signature suite (beyond-ref): MinHash (md5 min-wise family) AND
# SimHash (md5-bit majority) per document — both are narrow array-fold
# expressions fused into one scan, both fully oracle-checkable because the
# hash families are engine-portable. Consolidates the former dedup_minhash /
# dedup_simhash entries (identical operators, one vehicle).
# --------------------------------------------------------------------------
def dedup_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # both signatures in ONE select over one scan — a join of the two
    # signature tables would shuffle the corpus on doc_id for values that
    # are pure map work (the narrow-signature rule, tests/test_plans.py)
    staged = docs.select(
        "doc_id",
        dedup.shingles(F.col("text"), 3).alias("sh3"),
        dedup.shingles(F.col("text"), 2).alias("sh2"),
    )
    sig = dedup.minhash_sig_expr(F.col("sh3"), 4)
    return staged.select(
        "doc_id",
        F.element_at(sig, 1).alias("h0"),
        F.element_at(sig, 2).alias("h1"),
        F.element_at(sig, 3).alias("h2"),
        F.element_at(sig, 4).alias("h3"),
        dedup.simhash_expr(F.col("sh2"), 16).alias("simhash"),
    )


DEDUP_SIGNATURES_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
), toks AS (
  SELECT doc_id, string_split_regex(t, '\s+') AS w FROM norm
), sh3 AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT
      doc_id,
      array_to_string(w[i : i + 2], ' ') AS shingle
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i)
  )
), minhash AS (
  SELECT
    doc_id,
    MIN(md5('0:' || shingle)) AS h0,
    MIN(md5('1:' || shingle)) AS h1,
    MIN(md5('2:' || shingle)) AS h2,
    MIN(md5('3:' || shingle)) AS h3
  FROM sh3
  GROUP BY doc_id
), sh2 AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id, array_to_string(w[i : i + 1], ' ') AS shingle
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, GREATEST(len(w) - 1, 1))) AS i)
  )
), bits AS (
  SELECT
    doc_id, shingle,
    CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS hx
  FROM sh2
), votes AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (hx >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM bits, LATERAL (SELECT unnest(generate_series(0, 15)) AS bit) b
  GROUP BY doc_id, b.bit
), simhash AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes
  GROUP BY doc_id
)
SELECT m.doc_id, m.h0, m.h1, m.h2, m.h3, s.simhash
FROM minhash m JOIN simhash s ON m.doc_id = s.doc_id
"""


# --------------------------------------------------------------------------
# Streaming near-dup ingest snapshot (VERDICT r9 "Next round" #1): the
# round-9 flagship — streaming/neardup.make_near_dup_ingest — driver-gated
# end to end. The vehicle materializes a deterministic 2-file split of a
# 20% document subset (monotone doc_id ranges, mtimes pinned because
# FileStreamSource orders by mtime), runs the REAL Structured Streaming
# path (readStream → maxFilesPerTrigger=1 → foreachBatch → availableNow)
# against fresh index/survivors/checkpoint dirs, and returns the streamed
# survivors table with the micro-batch each survivor arrived in. The
# DuckDB oracle is a TWO-PHASE REPLAY OF THE STREAM'S OWN SEMANTICS
# (r10 verdict #1 — the SEMDEDUP_STREAM_ORACLE discipline applied here):
# per batch, exact dedup (min-id per normalized-content digest WITHIN
# the batch) then within-batch near-dup (doc_b of every verified pair
# loses — the batch engine's rule, loser-loser pairs included); then
# batch 1's remaining rows probe batch 0's SURVIVORS only, under the
# combined corpus+batch bucket cap the writer-maintained summary
# enforces (near_dup_pairs_incremental's contract). Because the oracle
# computes exactly what the stream computes, the row is green at ANY
# fixture/sf — it no longer leans on the "no loser-loser pair straddles
# the split" fixture property the old one-shot-batch oracle needed
# (with ids monotone in arrival order the two coincide except on such
# chains; the stream≡batch convergence itself stays property-tested in
# tests/test_streaming_neardup.py). This row hash-verifies, every round:
# the within-batch dedup, the incremental check against the persisted
# index + writer-maintained summary (near_dup_pairs_incremental, run on
# every post-first micro-batch), the batch-id-keyed idempotent writes,
# and the stream wiring itself. Reference analog: the reference IS a hand-rolled
# micro-batch system (/root/reference/powerbi_main_fun.py:1890-1921,
# fun_mysql_query.py:40-60); its Spark restatement gets the same oracle
# discipline as the batch DAG.
# --------------------------------------------------------------------------
_STREAM_SNAP_KNOBS = dict(threshold=0.4, num_hashes=4, bands=2, shingle_n=3)


# Per-process scratch root for the streamed vehicles' arrival splits and
# run dirs, removed at interpreter exit (r10 ADVICE: mkdtemp trees used
# to accumulate in /tmp indefinitely — 5+ per bench run). One root, one
# atexit hook; everything below it is throwaway by construction. The run
# dirs (index/survivors/checkpoint) cannot be deleted earlier: the
# vehicle RETURNS a DataFrame lazily backed by the survivors parquet.
_STREAM_SCRATCH_ROOT: str | None = None
# (prefix, sf_dir) → materialized split src dir. The split is a pure
# function of the input table and the id-range rule, so rebuilding it on
# every call (a write job + mtime pinning, 5× per bench run) bought
# nothing — VERDICT r10 #3a.
_SPLIT_CACHE: dict[tuple[str, str], str] = {}


def _stream_scratch_dir(prefix: str) -> str:
    """Fresh throwaway dir under the per-process scratch root."""
    global _STREAM_SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _STREAM_SCRATCH_ROOT is None:
        _STREAM_SCRATCH_ROOT = tempfile.mkdtemp(prefix="sg_stream_scratch_")
        atexit.register(shutil.rmtree, _STREAM_SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_STREAM_SCRATCH_ROOT)


def _arrival_split_src(
    df: DataFrame, id_col: str, prefix: str, cache_key: str | None = None
) -> str:
    """Materialize ``df`` as a deterministic TWO-FILE arrival split for a
    streamed catalog vehicle: file 0 holds ids ≤ max(id)//2, file 1 the
    rest — an id-range split, so ids are monotone in arrival order (the
    ingests' documented stream≡batch convergence precondition) and the
    midpoint rule is trivially mirrored by a SQL oracle. ONE job writes
    both files (single-partition partitionBy gives exactly one file per
    split value; two coalesce(1) writes would re-scan the subset twice),
    then mtimes are pinned because FileStreamSource orders by
    modification time — same-ms writes would make the batch order
    nondeterministic. Returns the SRC dir; the source glob is
    ``<src>/arr=*``. Pass ``cache_key`` (the sf_dir) to reuse the split
    across calls in one process — the split is deterministic in (input
    table, rule), so every bench pass re-deriving it was pure waste; the
    per-run state dirs stay fresh (callers use _stream_scratch_dir)."""
    import os

    if cache_key is not None and (prefix, cache_key) in _SPLIT_CACHE:
        return _SPLIT_CACHE[(prefix, cache_key)]
    mid = df.agg(F.max(id_col)).first()[0] // 2
    src = os.path.join(_stream_scratch_dir(prefix), "src")
    (
        df.withColumn("arr", F.when(F.col(id_col) <= mid, 0).otherwise(1))
        .repartition(1)
        .sortWithinPartitions("arr")
        .write.partitionBy("arr")
        .parquet(src)
    )
    for i in (0, 1):
        d = os.path.join(src, f"arr={i}")
        if not os.path.isdir(d):
            # a split value with zero rows writes no partition dir (ids
            # starting above the midpoint); the stream then sees one file
            continue
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_700_000_000 + i,) * 2)
    if cache_key is not None:
        _SPLIT_CACHE[(prefix, cache_key)] = src
    return src


def dedup_stream_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.neardup import make_near_dup_ingest

    from ..streaming.ingestbase import run_file_ingest

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where((F.col("doc_id") % 5) == 0)
    )
    src = _arrival_split_src(
        docs, "doc_id", "dedup_stream_snapshot_", cache_key=sf_dir
    )
    # fresh per-RUN state (index/survivors/checkpoint) — only the split is
    # cacheable; reusing a checkpoint would make the second run a no-op
    root = _stream_scratch_dir("dedup_stream_run_")
    # no micro_batch_confs scope: the ingest sizes each batch's execution
    # to the batch's own row count
    run_file_ingest(
        spark,
        os.path.join(src, "arr=*"),
        "doc_id long, text string",
        make_near_dup_ingest(
            os.path.join(root, "idx"),
            os.path.join(root, "surv"),
            **_STREAM_SNAP_KNOBS,
        ),
        os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
    )
    surv = spark.read.parquet(os.path.join(root, "surv"))
    return surv.select(
        "doc_id",
        F.length("text").alias("doc_len"),
        F.col("_batch_id").cast("long").alias("arrived_batch"),
    )


DEDUP_STREAM_ORACLE = r"""
WITH sub AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
), mid AS (
  SELECT CAST(MAX(doc_id) // 2 AS BIGINT) AS m FROM sub
), has0 AS (
  -- degenerate split: when NO id clears the midpoint the split writes a
  -- single file, which becomes micro-batch 0 — everything then arrives
  -- (and is labeled) batch 0 on both sides
  SELECT COUNT(*) > 0 AS h FROM sub WHERE doc_id <= (SELECT m FROM mid)
), norm AS (
  -- arrival batch from the vehicle's id-range split rule
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t,
         CASE WHEN NOT (SELECT h FROM has0) THEN 0
              WHEN doc_id <= (SELECT m FROM mid) THEN 0 ELSE 1 END AS arr
  FROM sub
), exact_keep AS (
  -- phase 1, per batch: WITHIN-batch exact dedup (min-id per content)
  SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY arr, md5(t)
), kept AS (
  SELECT n.doc_id, n.t, n.arr FROM norm n JOIN exact_keep USING (doc_id)
), toks AS (
  SELECT doc_id, string_split_regex(t, '\s+') AS w FROM kept
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS shingle
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i))
), sig AS (
  SELECT doc_id,
         MIN(md5('0:' || shingle)) AS h0, MIN(md5('1:' || shingle)) AS h1,
         MIN(md5('2:' || shingle)) AS h2, MIN(md5('3:' || shingle)) AS h3
  FROM sh GROUP BY doc_id
), barr AS (
  -- band rows tagged with the doc's arrival batch
  SELECT b.doc_id, b.bucket, k.arr
  FROM (SELECT doc_id, md5('0|' || h0 || '|' || h1) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, md5('1|' || h2 || '|' || h3) FROM sig) b
  JOIN kept k ON k.doc_id = b.doc_id
), inb_ok AS (
  -- within-batch degenerate-bucket cap: membership counted per batch
  SELECT bucket, arr FROM barr GROUP BY bucket, arr HAVING COUNT(*) <= 1024
), shl AS (
  SELECT doc_id, list(shingle) AS sl FROM sh GROUP BY doc_id
), inb_losers AS (
  -- phase 2, per batch: within-batch near-dup, the batch engine's rule
  -- (doc_b of every verified pair loses — loser-loser pairs included)
  SELECT DISTINCT b.doc_id
  FROM barr a
  JOIN barr b ON a.bucket = b.bucket AND a.arr = b.arr AND a.doc_id < b.doc_id
  JOIN inb_ok ok ON ok.bucket = a.bucket AND ok.arr = a.arr
  JOIN shl x ON x.doc_id = a.doc_id
  JOIN shl y ON y.doc_id = b.doc_id
  WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sl, y.sl))) >= 0.4
), batch2 AS (
  SELECT * FROM barr WHERE doc_id NOT IN (SELECT doc_id FROM inb_losers)
), corpus_summary AS (
  -- batch 0's writer-maintained summary: per-bucket counts of batch 0's
  -- NOVEL band rows (batch 0 sees no prior index, so novel = its batch2)
  SELECT bucket, COUNT(*) AS n_members FROM batch2 WHERE arr = 0 GROUP BY bucket
), inc_ok AS (
  -- incremental cap: COMBINED corpus+batch membership, evaluated only on
  -- the buckets batch 1 touches (near_dup_pairs_incremental's contract)
  SELECT nb.bucket
  FROM (SELECT bucket, COUNT(*) AS n_new FROM batch2 WHERE arr = 1
        GROUP BY bucket) nb
  LEFT JOIN corpus_summary cs ON cs.bucket = nb.bucket
  WHERE nb.n_new + COALESCE(cs.n_members, 0) <= 1024
), inc_losers AS (
  -- phase 3: batch 1's remaining rows probe batch 0's SURVIVORS only
  -- (the persisted index holds exactly the prior batches' novel rows)
  SELECT DISTINCT n.doc_id
  FROM batch2 n
  JOIN batch2 c ON n.arr = 1 AND c.arr = 0 AND n.bucket = c.bucket
  JOIN inc_ok ok ON ok.bucket = n.bucket
  JOIN shl x ON x.doc_id = n.doc_id
  JOIN shl y ON y.doc_id = c.doc_id
  WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sl, y.sl))) >= 0.4
)
SELECT s.doc_id, length(s.text) AS doc_len,
       CAST(k.arr AS BIGINT) AS arrived_batch
FROM (SELECT DISTINCT doc_id, arr FROM batch2) k
JOIN sub s ON s.doc_id = k.doc_id
WHERE NOT (k.arr = 1 AND k.doc_id IN (SELECT doc_id FROM inc_losers))
"""


# --------------------------------------------------------------------------
# Incremental mergeable corpus statistics (operators/incstats.py — the r9
# streaming-maintenance family's statistics leg, driver-gated per VERDICT
# r9: "the streaming ingests' outputs deserve the same oracle discipline").
# The vehicle writes TWO batch-keyed stats parts over a deterministic
# id-parity split of the documents table, folds them with merged_stats, and
# returns the exact (batching-invariant) statistics: row count and null
# count per profiled column, plus the √2-log-bin length-histogram p50/p90
# for the text column. The DuckDB oracle computes the same numbers directly
# over the whole table — so the hash verifies precisely the MERGEABILITY
# claim (two parts folded == one scan) plus the bin/percentile arithmetic.
# ndv is deliberately excluded: it is a Datasketches HLL estimate (an
# estimator family DuckDB cannot replay bit-for-bit); its merge correctness
# is pinned by tests/test_incstats.py instead.
# --------------------------------------------------------------------------
_INC_STATS_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def inc_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.incstats import merged_stats, write_stats_parts_split

    docs = load_table(spark, sf_dir, "documents")
    # per-run scratch under the shared atexit-removed root (the same
    # /tmp-litter fix as the streamed vehicles); the parts must be
    # REWRITTEN each run — the write path is part of what the hash gates
    parts_dir = os.path.join(_stream_scratch_dir("inc_stats_"), "parts")
    # the one-pass writer: both batch parts from one grouped
    # aggregation (its merge is pinned by tests/test_incstats.py). The
    # split rule is data-independent (doc_id parity): merged statistics
    # are split-INVARIANT, so a midpoint computed from the data would
    # buy nothing but one extra aggregate job per run.
    with micro_batch_confs(spark):
        parts_schema = write_stats_parts_split(
            docs,
            _INC_STATS_COLS,
            parts_dir,
            (F.col("doc_id") % 2).cast("long"),
            length_of=["text"],
        )
        rows = merged_stats(
        spark,
        parts_dir,
        _INC_STATS_COLS,
        length_of=["text"],
        # the vehicle outputs only the EXACT statistics; the sketches are
        # written (real parts) but not folded here — ndv is estimator-
        # family (not SQL-replayable) and its merge is pytest-pinned
        include_ndv=False,
        # r14 (VERDICT r13 #5): the fold reads back parts THIS call just
        # wrote — the writer's schema makes the read declared instead of
        # a mergeSchema footer-sampling job per run
        schema=parts_schema,
    )
    # percentiles coalesce to 0.0 on the non-length rows (catalog outputs
    # avoid NULLs — the j12_full_outer convention; stat_col disambiguates)
    out = [
        (
            r["column"],
            int(r["n_rows"]),
            int(r["n_nulls"]),
            round(r["p50_est"], 3) if r.get("p50_est") is not None else 0.0,
            round(r["p90_est"], 3) if r.get("p90_est") is not None else 0.0,
        )
        for r in rows
    ]
    return spark.createDataFrame(
        out,
        "stat_col string, n_rows long, n_nulls long, "
        "p50_len_r3 double, p90_len_r3 double",
    )


INC_STATS_ORACLE = r"""
WITH cols AS (
  SELECT 'doc_id' AS stat_col, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(doc_id) AS n_nulls FROM documents
  UNION ALL
  SELECT 'text', COUNT(*), COUNT(*) - COUNT(text) FROM documents
  UNION ALL
  SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang) FROM documents
  UNION ALL
  SELECT 'source', COUNT(*), COUNT(*) - COUNT(source) FROM documents
  UNION ALL
  SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars) FROM documents
), bins AS (
  -- sqrt-2 log bins, mirroring operators/incstats._hist_bin: bin 0 = {0},
  -- bin i covers [2^((i-1)/2), 2^(i/2)), capped at 63
  SELECT CASE WHEN length(text) <= 0 THEN 0
              ELSE LEAST(CAST(FLOOR(LOG2(CAST(length(text) AS DOUBLE)) * 2)
                              AS INT) + 1, 63) END AS bin
  FROM documents WHERE text IS NOT NULL
), h AS (
  SELECT bin, COUNT(*) AS c FROM bins GROUP BY bin
), cum AS (
  SELECT bin, SUM(c) OVER (ORDER BY bin) AS acc, SUM(c) OVER () AS tot
  FROM h
), pct AS (
  SELECT (SELECT MIN(bin) FROM cum WHERE acc >= 0.5 * tot) AS b50,
         (SELECT MIN(bin) FROM cum WHERE acc >= 0.9 * tot) AS b90,
         (SELECT CAST(SUM(c) AS BIGINT) FROM h) AS n
)
SELECT stat_col, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       0.0 AS p50_len_r3, 0.0 AS p90_len_r3
FROM cols
UNION ALL
SELECT 'len(text)', n, 0,
       ROUND(CASE WHEN b50 = 0 THEN 0.0
                  ELSE SQRT(POW(2, (b50 - 1) / 2.0) * POW(2, b50 / 2.0)) END, 3),
       ROUND(CASE WHEN b90 = 0 THEN 0.0
                  ELSE SQRT(POW(2, (b90 - 1) / 2.0) * POW(2, b90 / 2.0)) END, 3)
FROM pct
"""


# --------------------------------------------------------------------------
# Multimodal byte-feature extraction (beyond-ref): binary payload + typed
# metadata through the Arrow-batched mapInPandas decode path, with the
# deterministic fake decoder (codecs absent in this environment). The
# documents fixture is pure ASCII, so the oracle recomputes the byte
# statistics character-wise in SQL — the UDF plumbing is value-checked,
# not just smoke-checked.
# --------------------------------------------------------------------------
def mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(docs, "doc_id", "text")
    feats = multimodal.extract_features(media, decoder=multimodal.fake_decoder)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.col("byte_mean"), 6).alias("byte_mean_r6"),
        F.element_at("byte_hist", 1).alias("hist_b0"),
        F.element_at("byte_hist", 9).alias("hist_b8"),
    )


MM_BYTE_ORACLE = """
WITH chars AS (
  SELECT doc_id AS media_id,
         ord(substr(text, i, 1)) AS byte
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text))) AS i)
)
SELECT media_id,
       COUNT(*) AS n_bytes,
       ROUND(CAST(SUM(byte) AS DOUBLE) / COUNT(*), 6) AS byte_mean_r6,
       CAST(SUM(CASE WHEN byte % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS hist_b0,
       CAST(SUM(CASE WHEN byte % 16 = 8 THEN 1 ELSE 0 END) AS BIGINT) AS hist_b8
FROM chars GROUP BY media_id
"""


# --------------------------------------------------------------------------
# Brute-force cosine top-k (beyond-ref similarity baseline). Every top-k
# row also carries ``nd_degree``, the number of sign-blocked verified
# near-dup pairs (cosine_neardup_pairs, threshold 0.4) the query vector
# participates in — so the embedding-cosine near-dup pipeline
# (deterministic sign-pattern blocking + exact cosine ≥ τ) stays
# hash-verified at per-vector grain: a spurious or missing pair anywhere
# changes some vector's degree.
# --------------------------------------------------------------------------
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    out = similarity.cosine_topk_pairs(emb, k=3)
    nd = similarity.cosine_neardup_pairs(emb, threshold=0.4, block_dims=6)
    deg = (
        nd.select(F.col("vec_a").alias("query_id"))
        .unionByName(nd.select(F.col("vec_b").alias("query_id")))
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("nd_degree"))
    )
    # round for cross-engine float-accumulation tolerance; rank computed on
    # the unrounded value with neighbor_id tiebreak
    return (
        out.join(deg, "query_id", "left")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos_sim"), 6).alias("cos_sim_r6"),
            "rk",
            F.coalesce(F.col("nd_degree"), F.lit(0).cast("long")).alias(
                "nd_degree"
            ),
        )
    )


SIM_COSINE_ORACLE = """
WITH pairs AS (
  SELECT
    a.vec_id AS query_id,
    b.vec_id AS neighbor_id,
    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_sim
  FROM embeddings a, embeddings b
  WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM pairs
), ndv AS (
  -- the nd_degree pipeline: deterministic 6-dim sign-pattern blocking
  -- + exact cosine >= 0.4
  SELECT vec_id,
         md5(concat_ws('|',
           CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END)) AS blk,
         embedding::DOUBLE[] AS e
  FROM embeddings
), ndpairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ndv a JOIN ndv b ON a.blk = b.blk AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4
), deg AS (
  SELECT query_id, COUNT(*) AS nd_degree FROM (
    SELECT vec_a AS query_id FROM ndpairs
    UNION ALL
    SELECT vec_b FROM ndpairs)
  GROUP BY query_id
)
SELECT r.query_id, r.neighbor_id, ROUND(r.cos_sim, 6) AS cos_sim_r6, r.rk,
       COALESCE(deg.nd_degree, 0) AS nd_degree
FROM ranked r LEFT JOIN deg ON deg.query_id = r.query_id
WHERE r.rk <= 3
"""


# --------------------------------------------------------------------------
# IVF-style ANN (beyond-ref scale path #2): TRAINED coarse quantizer
# (sample-based spherical k-means in QUANTIZED arithmetic — assignment
# cosines and recentred centroids round to 6 decimals every Lloyd step, so
# training is a deterministic function of the input bytes), broadcast
# assignment, cell-restricted exact search. Fully oracle-checkable per row:
# the DuckDB oracle REPLAYS the same rounded Lloyd iterations as unrolled
# CTEs and builds the identical index. Recall gain of the trained quantizer
# over the lowest-id stand-in is quantified in tests/test_similarity_scale.
# --------------------------------------------------------------------------
_IVF_TRAIN_ITERS = 4
_IVF_CENTROID_CACHE: dict[tuple[str, str], DataFrame] = {}


def _trained_centroids(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """The session's trained coarse quantizer for this sf_dir — trained
    once (build-time artifact), shared by every vehicle over it
    (`sim_ann_ivf`, `dedup_semantic`). ONE definition on purpose: the
    oracles replay exactly these parameters (⌈√n⌉ cells, _IVF_TRAIN_ITERS
    quantized-Lloyd steps, 6-decimal rounding); two drifting copies would
    train different quantizers depending on which vehicle ran first."""
    import math

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_CENTROID_CACHE:
        n_cells = max(8, math.ceil(math.sqrt(emb.count())))
        _IVF_CENTROID_CACHE[key] = similarity.train_centroids(
            emb, n_cells, iters=_IVF_TRAIN_ITERS, round_decimals=6
        ).cache()
    return _IVF_CENTROID_CACHE[key]


# r13 rider (VERDICT r12 #1): the IVF-PQ/ADC scale path rides the IVF
# vehicle — the 100× ladder point showed the exact in-cell search growing
# candidate volume ~k^1.5 at adaptive √n cells, and PQ/ADC (operators/
# pq.py) is the named next-decade design: m one-byte codes per vector
# instead of d floats, per-candidate scoring = m table lookups. The rider
# carries, per result row, the NEIGHBOR's frozen-codebook PQ codes and the
# query→neighbor ADC approximate cosine under the same hash; the oracle
# replays the per-subspace quantized Lloyd training as unrolled CTEs and
# recomputes the ADC sum from the replayed books. Same quantized contract
# as the coarse quantizer: round_decimals=6 at every argmin/mean step.
_PQ_M = 4
_PQ_KSUB = 8
_PQ_ITERS = 3
_PQ_RD = 6
_PQ_BOOKS_CACHE: dict[tuple[str, str], list[list[list[float]]]] = {}


def _trained_pq_books(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> list[list[list[float]]]:
    """The session's trained PQ codebooks for this sf_dir — a build-once
    index artifact like :func:`_trained_centroids` (m·ksub·dsub doubles,
    driver-held, trained on the md5-ordered bounded sample)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[key] = pq.train_pq_codebooks(
            emb,
            m=_PQ_M,
            ksub=_PQ_KSUB,
            iters=_PQ_ITERS,
            round_decimals=_PQ_RD,
        )
    return _PQ_BOOKS_CACHE[key]


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    out = similarity.ann_ivf_topk_trained(
        emb, n_cells=None, k=3,  # adaptive ~sqrt(n) cells
        train_iters=_IVF_TRAIN_ITERS, round_decimals=6,
        cents=_trained_centroids(spark, sf_dir, emb),
    )
    # PQ riders at FROZEN books: ONE fused Arrow pass builds (codes, lut)
    # per corpus row (pq.pq_encode_lut_expr — r13: previously codes and
    # LUTs were two separate scan→exchange→Arrow→broadcast subtrees over
    # the same relation, so the corpus crossed the Python boundary
    # twice). The fused relation is staged with an eager localCheckpoint
    # — measured necessity, not style: left lazy, nested-field pruning
    # specializes each join side (codes-only vs lut-only projections), the
    # two subtrees stop being canonically equal, AQE's stage reuse cannot
    # unify them, and the Arrow pass still runs twice (accumulator-
    # verified 2n rows through Python; interleaved A/B min 1.70 s lazy vs
    # 1.20 s staged vs 1.58 s two-pass at sf0.1). The staged relation is
    # the PQ index itself (id, codes, lut — the same artifact a
    # deployment persists), no larger per row than the embeddings it
    # replaces. The per-(query, neighbor) ADC score stays JVM-side
    # (m nested array lookups — pq.pq_score_expr). Joins stay unhinted:
    # both sides are corpus-sized relations, AQE picks the strategy.
    books = _trained_pq_books(spark, sf_dir, emb)
    base = emb.select(
        F.col("vec_id").alias("_pid"),
        similarity.as_double_array(F.col("embedding")).alias("_pv"),
    )
    # r14: the ANN search (`out`) and the PQ-index Arrow pass (`enriched`)
    # are INDEPENDENT passes over the corpus — submit their staging jobs
    # concurrently (guide §2.6) so the rider's encode pass overlaps the
    # cell-restricted search instead of serializing behind it. The final
    # plan then joins three staged relations; semantics unchanged.
    out, enriched = stage_checkpoints_concurrent(
        [
            ("sim_ann_ivf_out", out),
            (
                "sim_ann_ivf_enriched",
                base.select(
                    "_pid",
                    pq.pq_encode_lut_expr(
                        "_pv", books, round_decimals=_PQ_RD
                    ).alias("_cl"),
                ),
            ),
        ]
    )
    nbr = enriched.select(
        F.col("_pid").alias("_nid"), F.col("_cl").alias("_ncl")
    )
    qry = enriched.select(
        F.col("_pid").alias("_qid"), F.col("_cl").alias("_qcl")
    )
    return (
        out.join(nbr, out["neighbor_id"] == nbr["_nid"])
        .join(qry, out["query_id"] == qry["_qid"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos_sim"), 6).alias("cos_sim_r6"),
            "rk",
            F.concat_ws(
                "-", F.col("_ncl.codes").cast("array<string>")
            ).alias("nbr_pq_codes"),
            F.round(
                pq.pq_score_expr("_ncl.codes", "_qcl.lut", _PQ_M), _PQ_RD
            ).alias("adc_cos_r6"),
        )
    )


def _lloyd_replay_prefix(iters: int, train_where: str = "") -> str:
    """Unrolled quantized-Lloyd replay, in SQL — the shared WITH-prefix
    (through the per-vector ``assigned (vec_id, cell, ccos)`` CTE) for
    every oracle over the trained quantizer (`sim_ann_ivf`,
    `dedup_semantic_stream`).

    Mirrors operators.similarity.train_centroids(round_decimals=6) step for
    step: c0 = first n_cells sample vectors in md5 order; each iteration
    assigns the sample to its argmax ROUND(cos, 6) centroid (ties → lowest
    cell) and recenters every non-empty cell on the ROUND(mean, 6) of its
    members (empty cells COALESCE to their previous value). Rounding at
    every step is what makes the replay exact — both engines' ulp-level
    accumulation differences sit ~1e-9 below the rounding quantum.

    ``train_where`` restricts the TRAINING population (sample + the
    n_cells sizing) without restricting ``assigned``, which always covers
    every vector — the streamed-semdedup oracle trains on the build
    batch (ids ≤ midpoint) exactly like the ingest's first micro-batch,
    then assigns the whole table at the frozen centroids.
    """
    steps = []
    prev = "c0"
    for i in range(iters):
        nxt = f"c{i + 1}"
        steps.append(f"""a{i} AS (
  SELECT s.vec_id, c.cell,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
           ROUND(list_dot_product(s.e, c.cv)
                 / (sqrt(list_dot_product(s.e, s.e))
                    * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
           c.cell) AS rn
  FROM samp s CROSS JOIN {prev} c
), m{i} AS (
  SELECT a.cell, dim.i, ROUND(AVG(s.e[dim.i]), 6) AS m
  FROM a{i} a JOIN samp s USING (vec_id),
       LATERAL (SELECT unnest(generate_series(1, (SELECT d FROM params))) AS i) dim
  WHERE a.rn = 1
  GROUP BY a.cell, dim.i
), {nxt} AS (
  SELECT c.cell, COALESCE(lm.cv2, c.cv) AS cv
  FROM {prev} c LEFT JOIN (
    SELECT cell, list(m ORDER BY i) AS cv2 FROM m{i} GROUP BY cell
  ) lm USING (cell)
)""")
        prev = nxt
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), params AS (
  SELECT GREATEST(8, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS n_cells,
         (SELECT len(e) FROM v LIMIT 1) AS d
  FROM v {train_where}
), samp AS (
  SELECT vec_id, e,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS ord
  FROM v {train_where}
  QUALIFY ord <= 16384
), c0 AS (
  SELECT ord - 1 AS cell, e AS cv
  FROM samp WHERE ord <= (SELECT n_cells FROM params)
), {", ".join(steps)},
cents AS (
  SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM {prev}
), assign0 AS (
  SELECT v.vec_id, c.cell,
         ROUND(list_dot_product(v.e, c.cv) / (v.nrm * c.cnrm), 6) AS ccos,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_dot_product(v.e, c.cv) / (v.nrm * c.cnrm), 6)
                    DESC, c.cell
         ) AS rn
  FROM v CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cell, ccos FROM assign0 WHERE rn = 1
)"""


def _codebook_replay_sql(
    m: int,
    ksub: int,
    iters: int,
    dsub: int,
    train_where: str = "",
    rd: int = 6,
) -> str:
    """Unrolled quantized per-subspace Lloyd + frozen-quantizer encode,
    appended to the coarse ``_lloyd_replay_prefix`` (which ends at the
    ``assigned`` CTE). Emits ``codes_l (vec_id, codes, codes_str)`` and
    leaves the final codebook CTE ``cb{iters}`` in scope for ADC replay.

    Mirrors operators/pq.train_pq_codebooks(round_decimals=rd) step for
    step: md5-ordered bounded sample (restricted by ``train_where`` —
    empty trains on the whole table, the batch-vehicle shape), first-ksub
    init, ROUND(d2, rd) argmin with first-min ties, ROUND(mean, rd)
    recentring, empty codes keep their centroid. Proven exact by
    ``sim_ann_ivf``'s oracle and
    tests/test_pq.py::test_sim_ann_ivf_pq_riders_oracle_on_random_corpus."""
    steps = []
    prev = "cb0"
    for i in range(iters):
        nxt = f"cb{i + 1}"
        steps.append(f"""pd{i} AS (
  SELECT p.vec_id, p.s, c.c,
         ROUND(list_dot_product(p.sv, p.sv)
               - 2 * list_dot_product(p.sv, c.cv)
               + list_dot_product(c.cv, c.cv), {rd}) AS d2
  FROM psub p JOIN {prev} c ON c.s = p.s
), pa{i} AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
    FROM pd{i}) WHERE rn = 1
), pm{i} AS (
  SELECT a.s, a.c, dim.j, ROUND(AVG(p.sv[dim.j]), {rd}) AS mval
  FROM pa{i} a JOIN psub p ON p.vec_id = a.vec_id AND p.s = a.s,
       LATERAL (SELECT unnest(generate_series(1, {dsub})) AS j) dim
  GROUP BY a.s, a.c, dim.j
), {nxt} AS (
  SELECT c.s, c.c, COALESCE(lm.cv2, c.cv) AS cv
  FROM {prev} c LEFT JOIN (
    SELECT s, c, list(mval ORDER BY j) AS cv2 FROM pm{i} GROUP BY s, c
  ) lm USING (s, c)
)""")
        prev = nxt
    return f""", xh AS (
  -- normalized vectors (the spherical-corpus contract train/encode share)
  SELECT vec_id, list_transform(e, x -> x / nrm) AS xh FROM v
), sub AS (
  -- per-subspace slices of EVERY vector (encode input; query LUT source)
  SELECT vec_id, sp.s,
         xh[sp.s * {dsub} + 1 : (sp.s + 1) * {dsub}] AS sv
  FROM xh, LATERAL (SELECT unnest(generate_series(0, {m - 1})) AS s) sp
), psub AS (
  -- the trainer's bounded deterministic sample, md5 order
  SELECT sub.vec_id, sub.s, sub.sv, so.ord
  FROM sub JOIN (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS ord
    FROM v {train_where}
    QUALIFY ord <= 16384
  ) so USING (vec_id)
), cb0 AS (
  -- first-ksub init, rounded (train_pq_codebooks' quantized contract)
  SELECT s, ord - 1 AS c, list_transform(sv, y -> ROUND(y, {rd})) AS cv
  FROM psub WHERE ord <= {ksub}
), {", ".join(steps)}, ed AS (
  -- encode EVERY vector at the frozen books (build + append batches)
  SELECT b.vec_id, b.s, c.c,
         ROUND(list_dot_product(b.sv, b.sv)
               - 2 * list_dot_product(b.sv, c.cv)
               + list_dot_product(c.cv, c.cv), {rd}) AS d2
  FROM sub b JOIN {prev} c ON c.s = b.s
), ecodes AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
    FROM ed) WHERE rn = 1
), codes_l AS (
  SELECT vec_id, list(c ORDER BY s) AS codes,
         string_agg(CAST(c AS VARCHAR), '-' ORDER BY s) AS codes_str
  FROM ecodes GROUP BY vec_id
)"""


def _ivf_oracle(iters: int) -> str:
    """Lloyd replay + cell-restricted exact top-3 search (see prefix doc),
    plus the r13 PQ/ADC rider replay: per-subspace quantized Lloyd →
    frozen-book encode of every vector → ADC sum Σ_s ⟨q̂_s, book_s[code]⟩
    per surviving (query, neighbor) row, rounded like the engine."""
    return f"""{_lloyd_replay_prefix(iters)}{
        _codebook_replay_sql(
            _PQ_M, _PQ_KSUB, _PQ_ITERS, 64 // _PQ_M, rd=_PQ_RD
        )
    }, pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         list_dot_product(x.e, y.e) / (x.nrm * y.nrm) AS cos_sim
  FROM pairs p
  JOIN v x ON x.vec_id = p.query_id
  JOIN v y ON y.vec_id = p.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
         ) AS rk
  FROM scored
  QUALIFY rk <= 3
), adc AS (
  -- ADC replay: the neighbor's replayed codes index the replayed books;
  -- the query side contributes its normalized subspace slices (sub) —
  -- the same Σ_m lut[s][code_s] the engine computes JVM-side
  SELECT r.query_id, r.neighbor_id,
         ROUND(SUM(list_dot_product(qs.sv, cb.cv)), {_PQ_RD}) AS adc_cos_r6
  FROM ranked r
  JOIN ecodes ec ON ec.vec_id = r.neighbor_id
  JOIN cb{_PQ_ITERS} cb ON cb.s = ec.s AND cb.c = ec.c
  JOIN sub qs ON qs.vec_id = r.query_id AND qs.s = ec.s
  GROUP BY r.query_id, r.neighbor_id
)
SELECT r.query_id, r.neighbor_id, ROUND(r.cos_sim, 6) AS cos_sim_r6, r.rk,
       cs.codes_str AS nbr_pq_codes, a.adc_cos_r6
FROM ranked r
JOIN codes_l cs ON cs.vec_id = r.neighbor_id
JOIN adc a ON a.query_id = r.query_id AND a.neighbor_id = r.neighbor_id
"""


SIM_IVF_ORACLE = _ivf_oracle(_IVF_TRAIN_ITERS)


# --------------------------------------------------------------------------
# Semantic dedup (beyond-ref; SemDeDup, Abbas et al. 2023): cluster with the
# SAME trained quantizer as sim_ann_ivf (an index is a build-once artifact —
# the session cache is shared), then inside each cluster drop the
# closer-to-centroid member of every pair with cosine ≥ τ. The oracle
# replays the full quantized-Lloyd training and the keep-the-outlier rule.
# --------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.4


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    out = similarity.semantic_dedup_survivors(
        emb,
        threshold=_SEMDEDUP_TAU,
        round_decimals=6,
        cents=_trained_centroids(spark, sf_dir, emb),
    )
    # centroid_cos is already rounded to 6 by the operator's quantized path
    return out.select(
        "vec_id", "cell", F.col("centroid_cos").alias("centroid_cos_r6")
    )


SEMDEDUP_ORACLE = f"""{_lloyd_replay_prefix(_IVF_TRAIN_ITERS)}, losers AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell
   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
  JOIN v x ON x.vec_id = a.vec_id
  JOIN v y ON y.vec_id = b.vec_id
  WHERE ROUND(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6) >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cell, a.ccos AS centroid_cos_r6
FROM assigned a
WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
"""


# --------------------------------------------------------------------------
# Streamed semantic-dedup ingest snapshot (round 10): the second
# index-maintaining ingest verified end to end against a FULL SQL
# replay, the `dedup_stream_snapshot` oracle discipline applied to the
# vector family. The query materializes the deterministic 2-file arrival
# split of the embeddings table (ids ≤ max//2 arrive first), runs the
# REAL Structured Streaming path (readStream → maxFilesPerTrigger=1 →
# foreachBatch → availableNow) through
# streaming/semdedup.make_semantic_dedup_ingest against fresh
# index/survivors/checkpoint dirs, and returns the persisted INDEX
# MEMBERS joined back to the saved centroids — so the comparison covers
# the build batch's quantizer training (batch-0 sample, quantized
# Lloyd), both batches' in-batch SemDeDup at the frozen quantizer
# (keep-the-outlier, operators/similarity.semantic_dedup_survivors), the
# incremental probe of batch 1 against batch 0's members
# (semantic_dedup_incremental — cell equi-join, cos ≥ τ drops the batch
# row), the centroid VALUES (through centroid_cos), and the batch-keyed
# arrival bookkeeping. The DuckDB oracle replays the whole two-phase
# flow: Lloyd over the build half only (train_where on the shared
# prefix), assignment of everything at the frozen centroids, per-batch
# in-cell losers, then the cross-batch incremental losers.
#
# NOT a catalog slot — a deliberate cost call, not a coverage gap: the
# streamed run is ~7 s of per-batch machinery (fingerprint, training,
# applyInPandas dedup, occupancy profile, drift part, three writes — all
# real, all per-batch jobs) that is ~85% fixed at any sf, and the
# catalog already pays that fixed cost once for the near-dup ingest
# (`dedup_stream_snapshot`, which gates the SHARED stream wiring:
# run_file_ingest, ingestbase guards, batch-keyed overwrite replay).
# This family's two-phase SQL replay instead runs per round as
# tests/test_semdedup_stream_oracle.py at sf0.01 — exact row-set
# equality, the same strength of check the driver's hash would give,
# minus the catalog's 5-pass bench bill. The batch SemDeDup operator
# keeps its driver-gated `dedup_semantic` row below.
# --------------------------------------------------------------------------
def dedup_semantic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed side of the semdedup ingest's two-phase SQL replay
    (``SEMDEDUP_STREAM_ORACLE``): kept because it is the check that gates
    streaming/semdedup.py, which ``tools/scale_check.py`` runs."""
    import os

    from ..streaming.ingestbase import run_file_ingest
    from ..streaming.semdedup import make_semantic_dedup_ingest

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = _arrival_split_src(
        emb, "vec_id", "dedup_semantic_stream_", cache_key=sf_dir
    )
    root = _stream_scratch_dir("dedup_semantic_run_")
    idx = os.path.join(root, "idx")
    with micro_batch_confs(spark):
        run_file_ingest(
            spark,
            os.path.join(src, "arr=*"),
            "vec_id long, embedding array<float>",
            make_semantic_dedup_ingest(
                idx,
                os.path.join(root, "surv"),
                threshold=_SEMDEDUP_TAU,
                train_iters=_IVF_TRAIN_ITERS,
                round_decimals=6,
            ),
            os.path.join(root, "ckpt"),
            max_files_per_trigger=1,
        )
    members = spark.read.parquet(os.path.join(idx, "members"))
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    return members.join(F.broadcast(cents), "cell").select(
        F.col("vid").alias("vec_id"),
        "cell",
        F.round(
            similarity.dot(F.col("v"), F.col("cv"))
            / (F.col("nrm") * F.col("cnrm")),
            6,
        ).alias("centroid_cos_r6"),
        F.col("_batch_id").cast("long").alias("arrived_batch"),
    )


_SEMDEDUP_STREAM_TRAIN_WHERE = (
    # the OR arm covers the degenerate split (no id clears the midpoint):
    # the single file becomes micro-batch 0, so the BUILD batch — and the
    # training population — is the whole table
    "WHERE vec_id <= (SELECT CAST(MAX(vec_id) // 2 AS BIGINT) FROM v) "
    "OR NOT EXISTS (SELECT 1 FROM v v2 WHERE v2.vec_id <= "
    "(SELECT CAST(MAX(vec_id) // 2 AS BIGINT) FROM v))"
)

SEMDEDUP_STREAM_ORACLE = f"""{
    _lloyd_replay_prefix(_IVF_TRAIN_ITERS, _SEMDEDUP_STREAM_TRAIN_WHERE)
}, batchd AS (
  -- every vector at the FROZEN build-batch centroids, tagged with its
  -- arrival micro-batch (the id-range split rule the vehicle writes;
  -- the NOT EXISTS arm folds the degenerate no-batch-0 split to a
  -- single batch 0, mirroring the stream)
  SELECT a.vec_id, a.cell, a.ccos,
         CASE WHEN NOT EXISTS (SELECT 1 FROM v v2 WHERE v2.vec_id <=
                (SELECT CAST(MAX(vec_id) // 2 AS BIGINT) FROM v))
              THEN 0
              WHEN a.vec_id <= (SELECT CAST(MAX(vec_id) // 2 AS BIGINT)
                                FROM v)
              THEN 0 ELSE 1 END AS arr
  FROM assigned a
), inb_losers AS (
  -- in-batch SemDeDup, per batch: member b loses iff some SAME-BATCH,
  -- same-cell member a earlier in (ccos, vec_id) order clears τ
  -- (keep-the-outlier; a may itself be a loser — the operator's rule)
  SELECT DISTINCT b.vec_id
  FROM batchd a
  JOIN batchd b ON a.cell = b.cell AND a.arr = b.arr
   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
  JOIN v x ON x.vec_id = a.vec_id
  JOIN v y ON y.vec_id = b.vec_id
  WHERE ROUND(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6)
        >= {_SEMDEDUP_TAU}
), kept AS (
  SELECT * FROM batchd
  WHERE vec_id NOT IN (SELECT vec_id FROM inb_losers)
), inc_losers AS (
  -- batch 1's kept rows probe batch 0's members (batch 0's kept rows ARE
  -- the index after the build batch): same cell, cos ≥ τ → batch row
  -- loses (the corpus is already curated)
  SELECT DISTINCT k1.vec_id
  FROM kept k1
  JOIN kept k0 ON k1.arr = 1 AND k0.arr = 0 AND k1.cell = k0.cell
  JOIN v x ON x.vec_id = k1.vec_id
  JOIN v y ON y.vec_id = k0.vec_id
  WHERE ROUND(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6)
        >= {_SEMDEDUP_TAU}
)
SELECT k.vec_id, k.cell, k.ccos AS centroid_cos_r6,
       CAST(k.arr AS BIGINT) AS arrived_batch
FROM kept k
WHERE NOT (k.arr = 1 AND k.vec_id IN (SELECT vec_id FROM inc_losers))
"""


# --------------------------------------------------------------------------
# End-to-end dedup application (beyond-ref): the survivor set after exact
# dedup (keep lowest doc_id per content digest) AND near-dup removal (drop
# the higher id of every verified Jaccard pair) — what a training-data
# pipeline actually ships downstream. Round 7 additionally carries the
# PASSAGE-grain pass on every survivor (operators.spans, the ExactSubstr
# k-gram dedup): duplicated-span count, tokens cut, and the LENGTH of the
# span-cleaned rebuilt text — hash-verifying duplicate_spans AND the
# remove_duplicate_spans gap-slice rebuild every round (the r6 verdict's
# top item: the flagship span operator had no CORRECTNESS row).
# --------------------------------------------------------------------------
_SPAN_K = 10


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Carries the FULL exact-phase output (dedup_key, dup_count) on every
    # survivor — this vehicle hash-verifies operators.dedup.exact_dedup_keys
    # end to end (the former standalone dedup_exact entry folded here:
    # identical operator, one vehicle; dropped exact dups are verified via
    # dup_count, near-dup losers via absence).
    docs = load_table(spark, sf_dir, "documents", spread=True)
    exact = dedup.exact_dedup_keys(docs, "doc_id", "text")
    exact_keep = exact.select(
        F.col("keep_id").alias("doc_id"), "dedup_key", "dup_count"
    )
    # The vehicle makes THREE independent passes over the corpus: the
    # near-dup LSH pipeline, the exact-dedup keys, and the span pass.
    # The near pass must be materialized anyway (two consumers: the
    # loser anti-join and the component rider — left lazy, each re-runs
    # the whole shingle/minhash/bucket pipeline, and above
    # duplicate_components' small-graph cap the distributed loop
    # additionally ITERATES over it). r14: the OTHER two corpus passes
    # are staged in the SAME concurrent submission (guide §2.6 — the
    # three scans have no data dependency, so they overlap to the wall
    # of the slowest instead of running serially; the former shape ran
    # near as its own serial checkpoint action and left exact + spans to
    # the final sink job, which could not start until near finished).
    # Both newly staged relations are NARROW per-doc rows (ids + a
    # digest + counters), so the checkpoint stores decision tables,
    # never corpus text.
    clean_full = spans.remove_duplicate_spans(
        docs, "doc_id", "text", k=_SPAN_K, keep_span_stats=True
    ).select(
        "doc_id",
        F.length("text").alias("clean_len"),
        "n_dup_spans",
        "span_tokens_cut",
    )
    near, exact_keep, clean = stage_checkpoints_concurrent(
        [
            (
                "dedup_survivors_near",
                dedup.near_dup_pairs(
                    docs, "doc_id", "text",
                    threshold=0.4, num_hashes=4, bands=2, shingle_n=3,
                ),
            ),
            ("dedup_survivors_exact", exact_keep),
            ("dedup_survivors_clean", clean_full),
        ]
    )
    near_losers = near.select(F.col("doc_b").alias("doc_id")).distinct()
    # r12 rider: transitive duplicate CLUSTERS over the verified-pair
    # graph (operators.dedup.duplicate_components — hash-min + pointer
    # jumping, the survivor-selection grain of every large-scale dedup
    # pipeline: A~B and B~C cluster {A,B,C} even when A~C misses the
    # threshold). component_id = min doc_id of the survivor's cluster
    # (itself when graph-untouched), component_size = cluster vertex
    # count. The DuckDB side replays it as a recursive-CTE transitive
    # closure — an independent algorithm agreeing on the fixpoint.
    # r13: duplicate_components is ADAPTIVE — at this fixture's graph
    # size (≤1e5 edges) the labels come from one size-checked collected
    # union-find pass (a LocalTableScan below), with the distributed
    # label-propagation loop unchanged above the cap. The comp joins
    # below stay UNhinted deliberately: AQE picks the join strategy from
    # the label table's measured size at runtime. A forced F.broadcast
    # would bake in an assumption the label table cannot honor at corpus
    # scale — it has one row per dup-graph vertex.
    comp = dedup.duplicate_components(near)
    comp_sz = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("component_size")
    )
    comp_full = comp.join(comp_sz, "component").select(
        "doc_id",
        F.col("component").alias("component_id"),
        "component_size",
    )
    surv = exact_keep.join(near_losers, "doc_id", "left_anti")
    # the span pass covers the WHOLE corpus (owner election is
    # corpus-wide — a survivor's passage may be owned by a dropped doc).
    # ONE call carries stats AND the rebuilt text (keep_span_stats — the
    # stats ride the rebuild's own per-doc aggregation); a separate
    # duplicate_spans branch would re-run the whole shingle pipeline per
    # consumer. Staged above, concurrent with the near pass.
    return (
        surv.join(clean, "doc_id", "left")
        .join(comp_full, "doc_id", "left")
        .select(
            "doc_id",
            "dedup_key",
            "dup_count",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
            F.coalesce("component_size", F.lit(1).cast("long")).alias(
                "component_size"
            ),
            "n_dup_spans",
            "span_tokens_cut",
            "clean_len",
        )
    )


DEDUP_SURVIVORS_ORACLE_TMPL = r"""
WITH RECURSIVE norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
), exact_keep AS (
  SELECT md5(t) AS dedup_key, MIN(doc_id) AS doc_id,
         COUNT(*) AS dup_count
  FROM norm GROUP BY md5(t)
), toks AS (
  SELECT doc_id, string_split_regex(t, '\s+') AS w FROM norm
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS shingle
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i))
), sig AS (
  SELECT doc_id,
         MIN(md5('0:' || shingle)) AS h0, MIN(md5('1:' || shingle)) AS h1,
         MIN(md5('2:' || shingle)) AS h2, MIN(md5('3:' || shingle)) AS h3
  FROM sh GROUP BY doc_id
), buckets AS (
  SELECT doc_id, md5('0|' || h0 || '|' || h1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, md5('1|' || h2 || '|' || h3) FROM sig
), ok_buckets AS (
  -- mirror the engine's degenerate-bucket cap (near_dup_pairs max_bucket):
  -- buckets larger than 1024 are sidelined, not expanded
  SELECT bucket FROM buckets GROUP BY bucket HAVING COUNT(*) <= 1024
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  JOIN ok_buckets ob ON ob.bucket = a.bucket
), shl AS (
  SELECT doc_id, list(shingle) AS sl FROM sh GROUP BY doc_id
), vpairs AS MATERIALIZED (
  -- Jaccard-verified pairs: the loser set AND the component rider's edge
  -- list both read these
  SELECT cand.doc_a, cand.doc_b
  FROM cand
  JOIN shl x ON x.doc_id = cand.doc_a
  JOIN shl y ON y.doc_id = cand.doc_b
  WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
        / len(list_distinct(list_concat(x.sl, y.sl))) >= 0.4
), near_losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM vpairs
), csym AS (
  SELECT doc_a AS u, doc_b AS v FROM vpairs
  UNION
  SELECT doc_b, doc_a FROM vpairs
), creach AS (
  -- transitive closure per vertex, component = MIN reachable: an
  -- INDEPENDENT algorithm from the engine's hash-min + pointer-jump
  -- label propagation, agreeing on the same fixpoint. Bounded by
  -- sum(|component|^2) rows — duplicate clusters are tiny
  SELECT u AS id, u AS r FROM csym
  UNION
  SELECT s.u, creach.r FROM csym s JOIN creach ON creach.id = s.v
), comp AS (
  SELECT id AS doc_id, MIN(r) AS component FROM creach GROUP BY id
), compsz AS (
  SELECT component, COUNT(*) AS component_size FROM comp GROUP BY component
)
, sptoks AS MATERIALIZED (
  -- passage pass: raw \S+ tokens (training text keeps casing), k-gram
  -- spans at string grain (the engine's xxhash64 is collision-free here;
  -- tests/test_spans.py pins the md5 path equal)
  SELECT doc_id, regexp_extract_all(coalesce(text, ''), '\S+') AS t
  FROM documents
), spsh AS MATERIALIZED (
  SELECT doc_id, u.i - 1 AS pos,
         array_to_string(t[u.i : u.i + {K} - 1], ' ') AS s
  FROM sptoks, UNNEST(range(1, greatest(len(t) - {K} + 2, 1))) AS u(i)
), spranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY s) AS c
  FROM spsh
), spmark AS (
  SELECT doc_id, pos, pos + {K} AS e FROM spranked WHERE c > 1 AND rn > 1
), spflag AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM spmark
), spislands AS (
  SELECT doc_id, pos, e,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM spflag
), spans AS MATERIALIZED (
  SELECT doc_id, min(pos) AS start_tok, max(e) AS end_tok
  FROM spislands GROUP BY doc_id, isl
), spagg AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans,
         CAST(SUM(end_tok - start_tok) AS BIGINT) AS span_tokens_cut
  FROM spans GROUP BY doc_id
), spkept AS (
  -- surviving tokens of span-carrying docs; rebuilt text is the
  -- single-space join, so its length = kept chars + (kept - 1)
  SELECT tk.doc_id, SUM(length(tk.tok)) AS keptchars, COUNT(*) AS nkept
  FROM (SELECT doc_id, t[u.i] AS tok, u.i - 1 AS p
        FROM sptoks, UNNEST(range(1, len(t) + 1)) AS u(i)) tk
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tk.doc_id AND tk.p >= s.start_tok AND tk.p < s.end_tok)
  GROUP BY tk.doc_id
)
SELECT ek.doc_id, ek.dedup_key, ek.dup_count,
       COALESCE(c.component, ek.doc_id) AS component_id,
       CAST(COALESCE(cz.component_size, 1) AS BIGINT) AS component_size,
       COALESCE(sa.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(sa.span_tokens_cut, 0) AS span_tokens_cut,
       CASE WHEN sa.doc_id IS NULL THEN length(d.text)
            ELSE CAST(COALESCE(sk.keptchars + sk.nkept - 1, 0) AS BIGINT)
       END AS clean_len
FROM exact_keep ek
JOIN documents d ON d.doc_id = ek.doc_id
LEFT JOIN comp c ON c.doc_id = ek.doc_id
LEFT JOIN compsz cz ON cz.component = c.component
LEFT JOIN spagg sa ON sa.doc_id = ek.doc_id
LEFT JOIN spkept sk ON sk.doc_id = ek.doc_id
WHERE ek.doc_id NOT IN (SELECT doc_id FROM near_losers)
"""

DEDUP_SURVIVORS_ORACLE = DEDUP_SURVIVORS_ORACLE_TMPL.format(K=_SPAN_K)


# --------------------------------------------------------------------------
# Distributed BPE train + encode (beyond-ref; Sennrich et al. 2016): train
# the merge table on the corpus, then encode the corpus with it. Output
# grain = merge rank (left/right/pair_count per learned merge), with the
# corpus-wide encode totals as constant columns so ONE hash covers both the
# trainer's argmax trajectory and the encoder's token stream. The DuckDB
# oracle replays training as UNROLLED per-merge CTEs (the Lloyd-replay
# discipline): vocab state rides as a chr(31)-delimited symbol string where
# one merge sweep is exactly SQL replace() — left-to-right, non-overlapping,
# whole-symbol-anchored via doubled separators (pattern ␟l␟␟r␟ → ␟lr␟ can
# only match symbol-aligned pairs, and the replacement's shared boundary
# halves keep consecutive merges matchable). Encode totals come from the
# final vocab (Σ freq·|syms|): a later merge can never create an
# earlier-rank pair (any pair containing a rank-i token has rank > i), so
# the canonical lowest-rank-first encode equals the training-order sweep
# replay for every in-corpus word — making the trainer's final state the
# oracle for the encoder.
# --------------------------------------------------------------------------
_BPE_MERGES = 8  # each merge is one argmax job (the driver-loop floor,
# ~0.3 s/job regardless of sf); 8 unrolled oracle iterations still gate
# the full trainer trajectory + the encode totals
_BPE_MIN_COUNT = 2


def txt_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint_every > num_merges: at 8 merges the un-truncated plan is
    # 8 cheap JVM folds stacked on the (checkpointed) initial vocab — far
    # cheaper than any mid-run vocab materialization job (bench A/B r8)
    merges = bpe.train_bpe(
        docs,
        num_merges=_BPE_MERGES,
        min_count=_BPE_MIN_COUNT,
        checkpoint_every=_BPE_MERGES + 1,
    )
    enc = bpe.bpe_encode(docs, merges)
    stats = enc.agg(
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        F.count("*").alias("n_docs"),
    )
    return merges.select(
        "rank",
        F.col("left").alias("lhs"),  # lhs/rhs: `left` breaks bare SQL SELECTs
        F.col("right").alias("rhs"),
        "pair_count",
    ).crossJoin(F.broadcast(stats))


def _bpe_oracle(num_merges: int, min_count: int) -> str:
    """Unrolled BPE-training replay (see the vehicle comment for why
    replace() on the doubled-separator string IS the merge pass)."""
    sep = "chr(31)"
    steps, merge_selects = [], []
    prev = "s0"
    for i in range(num_merges):
        nxt = f"s{i + 1}"
        steps.append(f"""sy{i} AS MATERIALIZED (
  SELECT freq, string_split(s, {sep}||{sep}) AS a FROM {prev}
), pc{i} AS MATERIALIZED (
  SELECT a[t.j+1] AS l, a[t.j+2] AS r, SUM(freq) AS cnt
  FROM sy{i}, LATERAL (SELECT unnest(generate_series(1, len(a)-3)) AS j) t
  GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT l, r, cnt FROM pc{i} WHERE cnt >= {min_count}
  ORDER BY cnt DESC, l, r LIMIT 1
), {nxt} AS MATERIALIZED (
  SELECT freq,
    CASE WHEN (SELECT COUNT(*) FROM b{i}) = 0 THEN s
    ELSE replace(s,
      {sep}||(SELECT l FROM b{i})||{sep}||{sep}||(SELECT r FROM b{i})||{sep},
      {sep}||(SELECT l FROM b{i})||(SELECT r FROM b{i})||{sep})
    END AS s
  FROM {prev}
)""")
        merge_selects.append(
            f"SELECT {i} AS rank, l AS lhs, r AS rhs, "
            f"CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        )
        prev = nxt
    return f"""
WITH dn AS MATERIALIZED (
  SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents
), wf AS MATERIALIZED (
  SELECT w.word, COUNT(*) AS freq
  FROM dn, LATERAL (SELECT unnest(string_split(t, ' ')) AS word) w
  WHERE length(w.word) > 0
  GROUP BY w.word
), s0 AS MATERIALIZED (
  SELECT freq,
    {sep}||{sep}||
      array_to_string(
        list_append(
          list_transform(generate_series(1, length(word)),
                         i -> substr(word, i, 1)),
          '</w>'),
        {sep}||{sep})
    ||{sep}||{sep} AS s
  FROM wf
), {", ".join(steps)}, merges AS (
  {" UNION ALL ".join(merge_selects)}
), enc AS (
  SELECT CAST(SUM(freq * (len(string_split(s, {sep}||{sep})) - 2)) AS BIGINT)
    AS total_bpe_tokens
  FROM {prev}
), nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT m.rank, m.lhs, m.rhs, m.pair_count, e.total_bpe_tokens, d.n_docs
FROM merges m CROSS JOIN enc e CROSS JOIN nd d
"""


TXT_BPE_ORACLE = _bpe_oracle(_BPE_MERGES, _BPE_MIN_COUNT)


# --------------------------------------------------------------------------
# Provenance-labeled quality classifier (beyond-ref; the CCNet/GPT-3 quality
# filter): featurize every document with the 5 scale-free text statistics,
# label by source provenance, train logistic regression with quantized
# full-batch GD (gradients AND the weight update round to 1e-6 each step —
# the train_centroids discipline, so training is a deterministic function of
# the input bytes), then score the corpus with the learned weights. The
# oracle replays every GD step as unrolled CTEs; ulp-level exp()/avg
# differences between engines sit ~1e-10 below the rounding quantum.
# --------------------------------------------------------------------------
_CLF_ITERS = 8  # full replay in the oracle; 8 quantized steps keep the
# vehicle ~3 s at sf0.1 (each step is one global aggregation job) while
# still gating every feature and the whole GD trajectory
_CLF_LR = 2.0
_CLF_RD = 6  # rounding quantum for the cross-engine GD replay
_CLF_POS_PATTERN = "^src1[0-9]$"  # deterministic provenance split


def txt_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # r13: stage the featurized projection ONCE (eager localCheckpoint)
    # — both consumers (the trainer's probe/loop and the scoring pass)
    # previously re-ran the regex featurization from the parquet scan.
    # The staged relation is doc_id + d doubles + a label (~60 B/row,
    # 10-100x narrower than the documents it came from), so at corpus
    # scale materializing it once beats a second full corpus scan +
    # featurize — the guide's decide-with-small-rows shape; on a
    # cluster with executor churn swap in a reliable checkpoint/staging
    # table at the call site. Interleaved A/B at sf0.1: 1.35 -> 0.92 s.
    feat = stage_checkpoint(
        docs.select(
            "doc_id",
            classifier.text_features(F.col("text")).alias("features"),
            F.col("source").rlike(_CLF_POS_PATTERN).cast("int").alias("label"),
        ),
        "txt_quality_clf_feat",
    )
    w, b = classifier.train_logreg(
        feat, iters=_CLF_ITERS, lr=_CLF_LR, round_decimals=_CLF_RD
    )
    return classifier.score_logreg(feat, w, b).select(
        "doc_id",
        F.col("label").cast("long").alias("label"),
        F.round("p_quality", 6).alias("p_quality_r6"),
    )


def _clf_oracle(iters: int, lr: float, rd: int) -> str:
    """Unrolled quantized-GD replay: features mirror
    operators.classifier.text_features term for term (token count as \\S+
    runs, punct density over raw length, en-stopword ratio, duplicate-token
    fraction over the normalized split, mean token length / 10)."""
    feat = r"""feat AS MATERIALIZED (
  SELECT doc_id,
    ln(1 + len(regexp_extract_all(coalesce(text, ''), '\S+'))) / 10.0 AS x1,
    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
      / GREATEST(length(text), 1) AS x2,
    CASE WHEN len(regexp_extract_all(coalesce(text, ''), '\S+')) = 0 THEN 0.0
         ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE)
              / len(regexp_extract_all(coalesce(text, ''), '\S+')) END AS x3,
    (len(w) - len(list_distinct(w)))::DOUBLE / len(w) AS x4,
    (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      / GREATEST(len(regexp_extract_all(coalesce(text, ''), '\S+')), 1)) / 10.0 AS x5,
    CAST(source SIMILAR TO 'src1[0-9]' AS INT)::DOUBLE AS y
  FROM (SELECT *, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents)
)"""
    steps = []
    prev = "w0"
    for i in range(iters):
        g, nxt = f"g{i}", f"w{i + 1}"
        steps.append(f"""{g} AS MATERIALIZED (
  SELECT ROUND(AVG(r * x1), {rd}) AS g1, ROUND(AVG(r * x2), {rd}) AS g2,
         ROUND(AVG(r * x3), {rd}) AS g3, ROUND(AVG(r * x4), {rd}) AS g4,
         ROUND(AVG(r * x5), {rd}) AS g5, ROUND(AVG(r), {rd}) AS gb
  FROM (
    SELECT f.*, 1.0/(1.0 + exp(-(w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3
                                 + w.w4*f.x4 + w.w5*f.x5 + w.b))) - f.y AS r
    FROM feat f CROSS JOIN {prev} w
  )
), {nxt} AS MATERIALIZED (
  SELECT ROUND(w.w1 - {lr}*g.g1, {rd}) AS w1, ROUND(w.w2 - {lr}*g.g2, {rd}) AS w2,
         ROUND(w.w3 - {lr}*g.g3, {rd}) AS w3, ROUND(w.w4 - {lr}*g.g4, {rd}) AS w4,
         ROUND(w.w5 - {lr}*g.g5, {rd}) AS w5, ROUND(w.b - {lr}*g.gb, {rd}) AS b
  FROM {prev} w CROSS JOIN {g} g
)""")
        prev = nxt
    return f"""
WITH {feat},
w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4, 0.0 AS w5, 0.0 AS b),
{", ".join(steps)}
SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
  ROUND(1.0/(1.0 + exp(-(w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3
                          + w.w4*f.x4 + w.w5*f.x5 + w.b))), 6) AS p_quality_r6
FROM feat f CROSS JOIN {prev} w
"""


TXT_CLF_ORACLE = _clf_oracle(_CLF_ITERS, _CLF_LR, _CLF_RD)


QUERIES: dict[str, Q] = {
    "txt_profile": Q(
        txt_profile,
        TXT_PROFILE_ORACLE,
        ("F1", "F3", "F8", "F23", "beyond:text"),
        "per-doc text profile: tokens/chars/punct, BPE budget, quality, "
        "langID, fingerprint (the profile columns share one scan) + the "
        "corpus bigram-LM perplexity gate (its own slice-train scan + "
        "score join)",
        folds=("r12: bigram-LM logprob rider (operators/lm.py train + "
               "score — lm_n_bigrams/lm_avg_log2p_r6/lm_ppl_r6, the "
               "CCNet-style curation signal, oracle-replayed in-CTE)",),
    ),
    "dedup_signatures": Q(
        dedup_signatures,
        DEDUP_SIGNATURES_ORACLE,
        ("beyond:dedup",),
        "MinHash (md5 min-wise) + SimHash (bit-majority) signatures per doc",
    ),
    "dedup_survivors": Q(
        dedup_survivors,
        DEDUP_SURVIVORS_ORACLE,
        ("beyond:dedup", "S9"),
        "survivor set after exact + LSH/Jaccard near-dup removal, carrying "
        "the passage-grain span-dedup stats + cleaned-text length + the "
        "transitive duplicate-cluster labels",
        folds=("r7: dedup_exact (dedup_key/dup_count columns on every "
               "survivor)",
               "r12: duplicate_components rider (component_id/"
               "component_size — hash-min + pointer-jump cluster labels "
               "over the verified-pair graph, replayed by the oracle as a "
               "recursive-CTE transitive closure)"),
    ),
    "txt_bpe": Q(
        txt_bpe,
        TXT_BPE_ORACLE,
        ("beyond:text",),
        "distributed BPE: merge-table training + corpus encode totals "
        "(oracle replays every merge as unrolled CTEs)",
    ),
    "txt_quality_clf": Q(
        txt_quality_clf,
        TXT_CLF_ORACLE,
        ("beyond:text",),
        "provenance-labeled logreg quality classifier: quantized-GD "
        "training replayed step-for-step by the oracle, corpus scored",
    ),
    "dedup_stream_snapshot": Q(
        dedup_stream_snapshot,
        DEDUP_STREAM_ORACLE,
        ("beyond:dedup", "beyond:streaming", "T3", "T4"),
        "streamed near-dup ingest (readStream -> foreachBatch, availableNow"
        ") snapshot hash-checked against a two-phase SQL replay of the "
        "stream's own semantics (r11); absorbs the former "
        "dedup_incremental vehicle (the ingest runs "
        "near_dup_pairs_incremental per micro-batch)",
        folds=("r10: dedup_incremental (near_dup_pairs_incremental runs "
               "on every post-first micro-batch)",),
    ),
    "inc_stats_merge": Q(
        inc_stats_merge,
        INC_STATS_ORACLE,
        ("beyond:stats", "T2"),
        "mergeable per-batch statistics parts folded to exact corpus "
        "counts + length-histogram percentiles",
    ),
    "mm_byte_features": Q(
        mm_byte_features,
        MM_BYTE_ORACLE,
        ("beyond:multimodal",),
        "binary-payload feature extraction through Arrow-batched decode",
    ),
    "sim_cosine_topk": Q(
        sim_cosine_topk,
        SIM_COSINE_ORACLE,
        ("beyond:similarity",),
        "blocked-corpus brute-force cosine top-k neighbors",
        folds=("r10: sim_cosine_neardup (nd_degree column)",),
    ),
    "sim_ann_ivf": Q(
        sim_ann_ivf,
        SIM_IVF_ORACLE,
        ("beyond:similarity",),
        "IVF-style ANN: coarse quantizer + cell-restricted exact search "
        "+ frozen-codebook PQ codes and ADC approximate cosine riders",
        folds=("r13: IVF-PQ/ADC rider (operators/pq.py frozen-codebook "
               "encode + ADC — nbr_pq_codes/adc_cos_r6, the next-decade "
               "ANN scale path; per-subspace quantized Lloyd replayed "
               "in-CTE via _codebook_replay_sql)",),
    ),
    "dedup_semantic": Q(
        dedup_semantic,
        SEMDEDUP_ORACLE,
        ("beyond:dedup", "beyond:similarity"),
        "SemDeDup: trained-quantizer clusters, drop the closer-to-centroid "
        "member of every in-cluster pair with cosine >= tau",
    ),
}
