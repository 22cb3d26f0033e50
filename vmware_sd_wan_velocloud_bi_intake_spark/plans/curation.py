"""End-to-end corpus curation: the composed training-data pipeline.

Chains the engine's text/dedup operators into the standard curation order a
large-scale pretraining pipeline runs (PII scrub → quality & language gate →
exact dedup → near-dup clustering → benchmark decontamination), returning
both the curated corpus and a per-stage audit so drops are attributable —
a silent filter is indistinguishable from a bug at 100 TB.

Scale shape: every stage is one of the already-audited operator shapes —
redaction and scoring fuse into the scan; exact dedup is one digest-keyed
shuffle; near-dup is the bucketed LSH pipeline (never all-pairs) plus
O(log n) component rounds; decontamination broadcasts the blocklist shingle
set. Stages compose lazily — Catalyst sees one DAG, so the quality gate
prunes rows BEFORE the dedup shuffles move them.

Beyond-reference surface (SURVEY.md §7 step 10); no reference analog — the
reference pipeline (powerbi_main_fun.py) has no corpus-curation stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup, lm, spans, text


@dataclass
class CurationResult:
    """Curated corpus plus the per-stage frames that produced it.

    ``cached`` holds relations the pipeline persisted because multiple
    downstream subtrees consume them (currently: the heuristically-gated
    corpus under the LM gate). They are materialized at construction time
    by the LM's vocabulary action and stay cached so scoring, dedup, and
    the audit all reuse one evaluation — call :meth:`release` when done
    with every frame in the result to return the executor memory."""

    curated: DataFrame
    redacted: DataFrame
    gated: DataFrame
    exact_kept: DataFrame
    near_kept: DataFrame
    cached: list[DataFrame] = field(default_factory=list)
    passage_kept: DataFrame | None = None

    def release(self) -> None:
        """Unpersist every relation the pipeline cached (idempotent)."""
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def audit(self) -> DataFrame:
        """(stage, n_docs) — evaluate to see where rows went. One job per
        stage; counts are actions, so call this deliberately, not per-batch.
        """
        frames = [
            self.redacted.select(F.lit("redacted").alias("stage"), "doc_id"),
            self.gated.select(F.lit("gated").alias("stage"), "doc_id"),
            self.exact_kept.select(F.lit("exact_kept").alias("stage"), "doc_id"),
            self.near_kept.select(F.lit("near_kept").alias("stage"), "doc_id"),
            self.curated.select(F.lit("curated").alias("stage"), "doc_id"),
        ]
        if self.passage_kept is not None:
            # row count never changes at this stage (passages are cut, docs
            # are not dropped) — audit the surviving non-empty docs so the
            # stage is visible when it hollows documents out
            frames.append(
                self.passage_kept.where(F.length("text") > 0).select(
                    F.lit("passage_nonempty").alias("stage"), "doc_id"
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.groupBy("stage").agg(F.count("*").cast("long").alias("n_docs"))


def curate_corpus(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.3,
    allowed_langs: tuple[str, ...] | None = None,
    near_dup_threshold: float = 0.4,
    num_hashes: int = 4,
    bands: int = 2,
    shingle_n: int = 3,
    blocklist: DataFrame | None = None,
    decon_threshold: float = 0.5,
    max_perplexity: float | None = None,
    lm_min_count: int = 2,
    boilerplate_doc_freq: int | None = None,
    passage_dedup_k: int | None = None,
) -> CurationResult:
    """Run the full curation pipeline over a documents table.

    1. **Redact** PII in place (``text`` column is replaced; the raw text
       never flows further — scrub-first is the standard ordering so no
       later stage can leak it). When ``boilerplate_doc_freq`` is set,
       template lines shared by that many distinct documents are then
       stripped (operators/text.remove_boilerplate) — BEFORE the quality
       gate, so scores judge the content, not the chrome.
    2. **Gate** on quality score and (optionally) predicted language —
       and, when ``max_perplexity`` is set, on corpus-LM perplexity
       (CCNet-style): a bigram model trains on the heuristically-gated
       survivors, then documents whose perplexity exceeds the cap are
       dropped. Training on the post-gate corpus (not the raw input)
       keeps spam from teaching the model its own patterns; zero-bigram
       docs (≤1 token) pass, since absence of evidence is not
       improbability. Cost: one extra |vocab|-keyed count pass + a
       broadcast scoring join (operators/lm.py).
    3. **Exact dedup**: keep the minimum doc_id per normalized digest.
    4. **Near-dup clustering**: LSH candidate pairs → Jaccard verify →
       connected components → cluster-canonical survivors.
    4b. **Passage dedup** (optional, ``passage_dedup_k``): after whole-doc
       dedup has removed document-level copies, cut the REPEATED PASSAGES
       the survivors still share (operators/spans.py, ExactSubstr-style at
       k-token grain) — ordered after near-dup so the span pass never
       wastes shingle volume on documents about to be dropped whole, and
       before decontamination so the overlap check sees the final text.
    5. **Decontaminate** (optional): drop docs whose shingle overlap with
       the ``blocklist`` corpus reaches ``decon_threshold``. The blocklist
       passes through the SAME redaction first — suspects are shingled
       post-redaction, so comparing against raw blocklist text would lose
       up to ``shingle_n`` shingles per PII site and under-detect leaked
       benchmark docs that contain emails/numbers.

    Stages 1–3 and 5 stay lazy; stage 4's connected-components clustering
    runs Spark jobs AT CALL TIME (label propagation iterates to a
    fixpoint, which requires actions), executing the upstream stages it
    depends on — as does LM training when ``max_perplexity`` is set (the
    vocabulary size is a trained scalar). Construct the result when you
    intend to evaluate it.
    """
    reserved = {"doc_id", "text"} - {doc_id, text_col}
    clash = reserved & set(docs.columns)
    if clash:
        raise ValueError(
            f"curate_corpus: input columns {sorted(clash)} collide with the "
            f"pipeline's output names while doc_id={doc_id!r}/"
            f"text_col={text_col!r} map different columns onto them"
        )
    base = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.col(text_col).alias("text"),
        *[c for c in docs.columns if c not in (doc_id, text_col)],
    )
    redacted = base.withColumn("text", text.redact_pii(F.col("text")))
    if boilerplate_doc_freq is not None:
        redacted = text.remove_boilerplate(
            redacted, "doc_id", "text", max_doc_freq=boilerplate_doc_freq
        )

    gate = text.quality_score(F.col("text")) >= F.lit(min_quality)
    if allowed_langs is not None:
        gate = gate & text.predict_lang(F.col("text")).isin(*allowed_langs)
    gated = redacted.where(gate)

    cached: list[DataFrame] = []
    if max_perplexity is not None:
        # The LM gate consumes `gated` from three separate subtrees — the
        # bigram/context counts, the scoring join's explode, and the final
        # semi-join's left side — and `gated` itself carries the redaction
        # regexes plus (optionally) the two boilerplate shuffles. Persist it
        # once: train_bigram_lm's vocabulary action materializes the cache
        # immediately, so every later subtree reads cached rows instead of
        # re-running the scrub chain. Released via CurationResult.release().
        gated = gated.persist()
        cached.append(gated)
        model = lm.train_bigram_lm(gated, min_count=lm_min_count)
        keep = (
            lm.score_bigram_logprob(gated, model)
            .where(
                F.col("perplexity").isNull()
                | (F.col("perplexity") <= F.lit(max_perplexity))
            )
            .select("doc_id")
        )
        gated = gated.join(keep, "doc_id", "left_semi")

    exact = dedup.exact_dedup_keys(gated, "doc_id", "text")
    exact_kept = gated.join(
        exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )

    pairs = dedup.near_dup_pairs(
        exact_kept,
        "doc_id",
        "text",
        threshold=near_dup_threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    # one survivor per cluster: the component's minimum id; anti-join the
    # rest directly
    comp = dedup.duplicate_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    near_kept = exact_kept.join(losers, "doc_id", "left_anti")

    passage_kept = None
    curated = near_kept
    if passage_dedup_k is not None:
        passage_kept = spans.remove_duplicate_spans(
            near_kept, "doc_id", "text", k=passage_dedup_k
        )
        curated = passage_kept
    if blocklist is not None:
        scrubbed_block = blocklist.select(
            text.redact_pii(F.col(text_col)).alias("text")
        )
        contaminated = (
            dedup.contamination_ratios(
                curated, scrubbed_block, "doc_id", "text", shingle_n=shingle_n
            )
            .where(F.col("overlap") >= F.lit(decon_threshold))
            .select("doc_id")
        )
        curated = curated.join(contaminated, "doc_id", "left_anti")

    return CurationResult(
        curated=curated,
        redacted=redacted,
        gated=gated,
        exact_kept=exact_kept,
        near_kept=near_kept,
        cached=cached,
        passage_kept=passage_kept,
    )
