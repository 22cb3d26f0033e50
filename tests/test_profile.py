"""Table profiling (operators/profile.py) against exact DuckDB statistics."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators.profile import profile_table
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table


def test_profile_matches_exact_stats(spark, sf_correct):
    docs = load_table(spark, sf_correct, "documents")
    prof = {r["column"]: r for r in profile_table(docs).collect()}
    con = duckdb.connect()
    exact = con.execute(
        f"""SELECT COUNT(*) AS n,
                   COUNT(DISTINCT doc_id) AS ndv_id,
                   MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
                   COUNT(DISTINCT lang) AS ndv_lang,
                   SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nul_lang
            FROM read_parquet('{sf_correct}/documents.parquet')"""
    ).fetchone()
    n, ndv_id, min_id, max_id, ndv_lang, nul_lang = exact
    assert prof["doc_id"]["n_rows"] == n
    assert prof["doc_id"]["n_nulls"] == 0
    assert prof["doc_id"]["min_str"] == str(min_id)
    assert prof["doc_id"]["max_str"] == str(max_id)
    # HLL++ at default precision: ±~2.3% documented, allow 5%
    assert abs(prof["doc_id"]["ndv_approx"] - ndv_id) <= max(2, 0.05 * ndv_id)
    assert abs(prof["lang"]["ndv_approx"] - ndv_lang) <= max(2, 0.05 * ndv_lang)
    assert prof["lang"]["n_nulls"] == nul_lang


def test_profile_nulls_and_complex_types(spark, sf_correct):
    emb = load_table(spark, sf_correct, "embeddings")
    withnull = emb.withColumn(
        "label", F.when(F.col("vec_id") % 4 == 0, None).otherwise(F.col("label"))
    )
    prof = {r["column"]: r for r in profile_table(withnull).collect()}
    n = emb.count()
    expect_null = emb.where("vec_id % 4 = 0").count()
    assert prof["label"]["n_nulls"] == expect_null
    assert abs(prof["label"]["null_frac"] - expect_null / n) < 1e-9
    # array column: nulls-only profile, no lossy casts
    assert prof["embedding"]["dtype"].startswith("array<")
    assert prof["embedding"]["ndv_approx"] is None
    assert prof["embedding"]["min_str"] is None


def test_profile_single_scan_no_keyed_shuffle(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    plan = (
        profile_table(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # global aggregate: partial/final, never a hash-partitioned exchange
    assert "hashpartitioning" not in plan.lower(), plan


def test_profile_column_subset_and_validation(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    out = profile_table(docs, ["doc_id", "lang"]).collect()
    assert [r["column"] for r in out] == ["doc_id", "lang"]
    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(docs, ["nope"])


def test_profile_rejects_duplicate_columns(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    with pytest.raises(ValueError, match="duplicate columns"):
        profile_table(docs, ["doc_id", "doc_id"])


# ---------------------------------------------------------------------------
# Profile-driven join strategy (plans/hints.py, round 6): the ANALYZE loop.
# ---------------------------------------------------------------------------
def test_profile_driven_broadcast_switch(spark, sf_smoke):
    """profile_table output drives the join strategy: a genuinely small
    dim fits a broadcast; the SAME relation with a profile claiming 100M
    rows does not, and is left for AQE. (The plan-level hint switch is
    asserted through a real operator in the decontamination test below.)"""
    from vmware_sd_wan_velocloud_bi_intake_spark.plans import hints

    nation = load_table(spark, sf_smoke, "nation")
    prof = profile_table(nation).collect()
    assert hints.broadcast_decision(prof) is True

    # same relation, a profile that says 100M rows: no broadcast
    fat = [{**dict(r.asDict()), "n_rows": 100_000_000} for r in prof]
    assert hints.broadcast_decision(fat) is False


def test_profile_driven_switch_reaches_decontamination(spark, sf_smoke):
    """The decision plugs into a real operator: contamination_ratios
    broadcasts its blocklist by default, and drops the hint when a
    profile-driven decision says the 'blocklist' is another full corpus."""
    from vmware_sd_wan_velocloud_bi_intake_spark.operators import dedup
    from vmware_sd_wan_velocloud_bi_intake_spark.plans import hints

    docs = load_table(spark, sf_smoke, "documents")
    block = docs.limit(5)

    def n_hints(decision):
        plan = (
            dedup.contamination_ratios(
                docs, block, "doc_id", "text", broadcast_blocklist=decision
            )
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        return plan.count("strategy=broadcast")

    prof = profile_table(block.select("text")).collect()
    assert n_hints(hints.broadcast_decision(prof)) == 1
    fat = [{**dict(r.asDict()), "n_rows": 10_000_000_000} for r in prof]
    assert n_hints(hints.broadcast_decision(fat)) == 0


def test_estimated_bytes_uses_profiled_widths():
    from vmware_sd_wan_velocloud_bi_intake_spark.plans.hints import (
        estimated_bytes,
    )

    rows = [
        {"column": "k", "dtype": "bigint", "n_rows": 100, "max_len": None},
        {"column": "s", "dtype": "string", "n_rows": 100, "max_len": 4},
    ]
    # 8 (bigint) + 4+8 (string payload+header) = 20 bytes/row
    assert estimated_bytes(rows) == 2000
    assert estimated_bytes([]) == 0


def test_estimated_bytes_uses_length_not_max_value(spark):
    """The width stat is the max string LENGTH, never len(max VALUE):
    'zz' sorts after a huge document but says nothing about row width."""
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.profile import (
        profile_table,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.plans.hints import (
        estimated_bytes,
    )

    df = spark.createDataFrame(
        [("a" * 50_000,), ("zz",)], "doc string"
    )
    prof = [r.asDict() for r in profile_table(df).collect()]
    doc = next(r for r in prof if r["column"] == "doc")
    assert doc["max_str"] == "zz"        # range stat: lexicographic max
    assert doc["max_len"] == 50_000      # width stat: longest value
    # 2 rows x (50_000 + 8) — the 50 KB row drives the estimate
    assert estimated_bytes(prof) == 2 * 50_008
