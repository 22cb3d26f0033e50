"""PII redaction, repetition signals, and benchmark decontamination.

The txt_profile catalog columns (n_pii / pii_md5 / dup_tok_frac_r6 /
top2_frac_r6) are driver-hash-checked; these tests pin the operator
semantics on adversarial inputs the fixture can't produce.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import dedup, text
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table


def _redact_one(spark, s: str) -> tuple[str, int]:
    row = (
        spark.range(1)
        .select(
            text.redact_pii(F.lit(s)).alias("r"),
            text.pii_count(F.lit(s)).alias("n"),
        )
        .first()
    )
    return row["r"], row["n"]


def _top_bigram_fraction(c):
    """The catalog's staging of the signal: normalize, split, bigrams."""
    toks = F.split(text.normalize_text(c), " ")
    return text.top_bigram_fraction_from(text.bigrams_from(toks))


@pytest.mark.parametrize(
    "raw,expected,n",
    [
        # each pattern alone
        ("mail bob.smith+x@sub.example.co.uk end", "mail <EMAIL> end", 1),
        ("host 192.168.0.1 up", "host <IP> up", 1),
        ("call 555-123-4567 now", "call <PHONE> now", 1),
        ("card 4111222233334444 ok", "card <NUM> ok", 1),
        ("intl +15551234567 ok", "intl +<NUM> ok", 1),
        # order: the IP is consumed by the IP pattern, never split by NUM
        ("a@b.io 10.0.0.255 123456789", "<EMAIL> <IP> <NUM>", 3),
        # non-PII survives: short digits, bare words, version strings
        ("v1.2 build 42 is fine", "v1.2 build 42 is fine", 0),
        ("", "", 0),
    ],
)
def test_redact_pii_cases(spark, raw, expected, n):
    red, count = _redact_one(spark, raw)
    assert red == expected
    assert count == n


def test_repetition_signals(spark):
    rows = [
        ("all same", "x x x x"),  # 3/4 dup tokens; bigram "x x" is all 3
        ("no rep", "a b c d"),
        ("loop", "go stop go stop go stop"),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, ["k", "t"])
    got = {
        r["k"]: (round(r["d"], 6), round(r["b"], 6))
        for r in df.select(
            "k",
            text.dup_token_fraction(F.col("t")).alias("d"),
            _top_bigram_fraction(F.col("t")).alias("b"),
        ).collect()
    }
    assert got["all same"] == (0.75, 1.0)
    assert got["no rep"] == (0.0, round(1 / 3, 6))
    # 6 tokens, 2 distinct -> 4/6; bigrams: [go stop]x3 [stop go]x2 -> 3/5
    assert got["loop"] == (round(4 / 6, 6), 0.6)
    assert got["empty"] == (0.0, 0.0)


def test_contamination_ratios_model(spark):
    # blocklist doc "a b c d e"; suspect sharing 2 of its 3-gram shingles
    block = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    susp = spark.createDataFrame(
        [(1, "a b c d x"), (2, "q r s t u")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_hit"])
        for r in dedup.contamination_ratios(
            susp, block, "doc_id", "text", shingle_n=3
        ).collect()
    }
    # doc 1 shingles: "a b c","b c d","c d x" -> 2 hits of 3
    assert out[1] == (3, 2)
    assert out[2] == (3, 0)


def test_decontaminate_blocklist_broadcasts(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    plan = (
        dedup.contamination_ratios(
            docs.filter("doc_id % 41 != 0"),
            docs.filter("doc_id % 41 = 0"),
            "doc_id",
            "text",
            shingle_n=3,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # blocklist side must broadcast; the suspect side must never build
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
