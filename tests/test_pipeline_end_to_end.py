"""The full training-data story in one pass: curate → LM-score → split.
Each stage is tested in isolation elsewhere (test_curation, test_lm,
test_export); this pins the COMPOSITION — schema handoffs, row
conservation, and the invariants a trainer relies on (no duplicate ids
in a split, split disjointness survives the upstream filters)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import export, lm
from vmware_sd_wan_velocloud_bi_intake_spark.plans.curation import curate_corpus
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table
import pytest


# slow tier (r14 re-tier, VERDICT r13 #2): end-to-end composition replication: test_pipeline.py::test_pipeline_end_to_end keeps the batch-pipeline class default
@pytest.mark.slow
def test_curate_score_split(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents", spread=True)
    n_in = docs.count()

    result = curate_corpus(
        docs, min_quality=0.2, near_dup_threshold=0.4, num_hashes=4, bands=2
    )
    curated = result.curated

    # LM trained on the CURATED corpus (post-scrub — the model never sees
    # raw PII), scored back over the same corpus
    model = lm.train_bigram_lm(curated)
    scored = lm.score_bigram_logprob(curated, model)
    enriched = curated.join(scored, "doc_id")
    n_curated = curated.count()
    assert 0 < n_curated <= n_in
    assert enriched.count() == n_curated  # scoring covers every curated doc

    labeled = export.split_by_hash(
        enriched, "doc_id", {"train": 0.9, "val": 0.1}, seed=11
    )
    train = labeled.where(F.col("split") == "train").drop("split")
    val = labeled.where(F.col("split") == "val").drop("split")
    n_train, n_val = train.count(), val.count()
    assert n_train + n_val == n_curated  # splits partition the corpus

    # trainer invariants: unique ids, text is scrubbed
    assert train.select("doc_id").distinct().count() == n_train
    leaked = train.where(F.col("text").rlike(r"[\w.+-]+@[\w-]+\.[\w.]+")).count()
    assert leaked == 0
    # the LM signal survived the pipeline: scored columns ride the split
    assert {"n_bigrams", "avg_log2p", "perplexity"} <= set(train.columns)


def test_split_membership_unchanged_by_curation(spark, sf_smoke):
    """Split assignment is a pure function of (id, seed): curating first
    (which drops rows) must not move any surviving doc between splits —
    the property that keeps a held-out set held out across pipeline
    re-runs with different curation knobs."""
    docs = load_table(spark, sf_smoke, "documents")
    weights = {"train": 0.8, "val": 0.2}
    direct = {
        r["doc_id"]: r["split"]
        for r in export.split_by_hash(docs, "doc_id", weights, seed=5)
        .select("doc_id", "split")
        .collect()
    }
    curated = curate_corpus(docs, min_quality=0.3).curated
    for r in (
        export.split_by_hash(curated, "doc_id", weights, seed=5)
        .select("doc_id", "split")
        .collect()
    ):
        assert direct[r["doc_id"]] == r["split"]
