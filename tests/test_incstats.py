"""Incremental mergeable statistics (operators/incstats.py), written
through ``write_stats_parts_split``, the writer the catalog's
``inc_stats_merge`` runs: batching invariance (N parts fold to the same
numbers as one), replay idempotency of the batch-keyed part writes,
agreement with the full-scan profile, and mixed-era parts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import incstats
from vmware_sd_wan_velocloud_bi_intake_spark.operators.profile import profile_table


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 != 0, F.concat(F.lit("text "), (F.col("id") % 37).cast("string")))
        .otherwise(F.lit(None))
        .alias("text"),
    )


def test_merged_stats_match_full_scan_profile(spark, tmp_path):
    docs = _docs(spark)
    parts = str(tmp_path / "parts")
    for i in range(4):
        incstats.write_stats_parts_split(
            docs.where(F.col("doc_id") % 4 == i), ["doc_id", "text"], parts,
            F.lit(i),
        )
    got = {r["column"]: r for r in incstats.merged_stats(spark, parts, ["doc_id", "text"])}
    want = {r["column"]: r for r in profile_table(docs, ["doc_id", "text"]).collect()}
    for c in ("doc_id", "text"):
        assert got[c]["n_rows"] == want[c]["n_rows"]
        assert got[c]["n_nulls"] == want[c]["n_nulls"]
        assert got[c]["null_frac"] == pytest.approx(want[c]["null_frac"])
        # different estimator families (Datasketches HLL vs HLL++): both
        # are exact at this cardinality, so they agree here; at corpus
        # scale they agree within their documented +-2%
        assert got[c]["ndv_approx"] == pytest.approx(
            want[c]["ndv_approx"], rel=0.05
        )


def test_batching_invariance(spark, tmp_path):
    """Counts sum exactly regardless of batching; ndv folds within the
    sketch's tolerance (NOT byte-identically: Datasketches HLL promotes
    sparse→dense at representation-dependent points, so four quarter
    sketches and one full sketch can sit in different modes — e.g. 401
    vs 399 at 400 true distincts; still ±2%)."""
    docs = _docs(spark)
    one = str(tmp_path / "one")
    four = str(tmp_path / "four")
    incstats.write_stats_parts_split(docs, ["doc_id", "text"], one, F.lit(0))
    for i in range(4):
        incstats.write_stats_parts_split(
            docs.where(F.col("doc_id") % 4 == i), ["doc_id", "text"], four,
            F.lit(i),
        )
    a = {r["column"]: r for r in incstats.merged_stats(spark, one, ["doc_id", "text"])}
    b = {r["column"]: r for r in incstats.merged_stats(spark, four, ["doc_id", "text"])}
    for c in ("doc_id", "text"):
        for k in ("n_rows", "n_nulls", "null_frac"):
            assert a[c][k] == b[c][k], (c, k)
        assert a[c]["ndv_approx"] == pytest.approx(b[c]["ndv_approx"], rel=0.03)


def test_part_replay_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    parts = str(tmp_path / "replay")
    incstats.write_stats_parts_split(
        docs.where("doc_id < 200"), ["doc_id"], parts, F.lit(0)
    )
    incstats.write_stats_parts_split(
        docs.where("doc_id >= 200"), ["doc_id"], parts, F.lit(1)
    )
    before = incstats.merged_stats(spark, parts, ["doc_id"])
    incstats.write_stats_parts_split(
        docs.where("doc_id >= 200"), ["doc_id"], parts, F.lit(1)
    )
    assert incstats.merged_stats(spark, parts, ["doc_id"]) == before


def test_all_null_and_empty_edges(spark, tmp_path):
    allnull = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit(None).cast("string").alias("text")
    )
    parts = str(tmp_path / "nulls")
    incstats.write_stats_parts_split(allnull, ["text"], parts, F.lit(0))
    got = incstats.merged_stats(spark, parts, ["text"])[0]
    assert got["n_nulls"] == 50 and got["ndv_approx"] == 0
    assert got["null_frac"] == 1.0
    with pytest.raises(FileNotFoundError):
        incstats.merged_stats(spark, str(tmp_path / "missing"), ["text"])
    with pytest.raises(ValueError, match="unknown columns"):
        incstats.write_stats_parts_split(
            allnull, ["nope"], str(tmp_path / "nope"), F.lit(0)
        )


def test_length_histogram_percentiles_and_merging(spark, tmp_path):
    """√2-log-bin length histograms: bin counts merge EXACTLY across
    parts, percentile estimates land within the documented ±19%
    multiplicative band, and the all-in-one part equals the merged
    quarters bin for bin."""
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.rpad(F.lit("x"), (F.col("id") % 200 + 50).cast("int"), "x").alias("text"),
    )
    one = str(tmp_path / "h_one")
    four = str(tmp_path / "h_four")
    incstats.write_stats_parts_split(
        docs, ["doc_id", "text"], one, F.lit(0), length_of=["text"]
    )
    for i in range(4):
        incstats.write_stats_parts_split(
            docs.where(F.col("doc_id") % 4 == i),
            ["doc_id", "text"], four, F.lit(i), length_of=["text"],
        )
    a = incstats.merged_stats(spark, one, ["doc_id", "text"], length_of=["text"])
    b = incstats.merged_stats(spark, four, ["doc_id", "text"], length_of=["text"])
    ha = next(r for r in a if r["column"] == "len(text)")
    hb = next(r for r in b if r["column"] == "len(text)")
    assert ha == hb  # bin counts are exact, so estimates are identical
    # lengths are uniform on [50, 249]: true p50 ≈ 150, p90 ≈ 230
    assert ha["p50_est"] == pytest.approx(150, rel=0.25)
    assert ha["p90_est"] == pytest.approx(230, rel=0.25)
    assert ha["n_rows"] == 1000


def test_pre_upgrade_parts_merge_with_histogram_parts(spark, tmp_path):
    """Parts written before a length_of upgrade lack the histogram
    column; the merged read must neither fail nor bind the wrong schema
    — counts cover ALL parts, percentiles only histogram-bearing ones
    (the hist row's own n_rows says how many)."""
    docs = _docs(spark, 200)
    parts = str(tmp_path / "mixed")
    incstats.write_stats_parts_split(
        docs.where("doc_id < 100"), ["doc_id", "text"], parts, F.lit(0)
    )
    incstats.write_stats_parts_split(
        docs.where("doc_id >= 100"), ["doc_id", "text"], parts, F.lit(1),
        length_of=["text"],
    )
    got = {r["column"]: r for r in incstats.merged_stats(
        spark, parts, ["doc_id", "text"], length_of=["text"])}
    assert got["doc_id"]["n_rows"] == 200          # counts span all parts
    assert 0 < got["len(text)"]["n_rows"] <= 100   # hist spans batch 1 only
    with pytest.raises(ValueError, match="length histogram"):
        # a dir where NO writer ever passed length_of fails loudly
        d2 = str(tmp_path / "nohist")
        incstats.write_stats_parts_split(docs, ["doc_id"], d2, F.lit(0))
        incstats.merged_stats(spark, d2, ["doc_id"], length_of=["doc_id"])
