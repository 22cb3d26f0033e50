"""Model-based checks: text operators vs pure-Python reference models.

The DuckDB oracle checks the operators on fixture-shaped text; this file
drives them over adversarial generated strings (blank, whitespace-only,
punctuation runs, PII-like fragments, repeated phrases) and compares
against independent single-process Python implementations. Inputs are
ASCII-only on purpose: Python's ``\\d``/``\\w`` are unicode-aware while
Java's default to ASCII, and the operators' contract is defined over the
Java semantics.
"""

from __future__ import annotations

import random
import re
from collections import Counter

from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import text


def _top_bigram_fraction(c):
    """The catalog's staging of the signal: normalize, split, bigrams."""
    toks = F.split(text.normalize_text(c), " ")
    return text.top_bigram_fraction_from(text.bigrams_from(toks))


# -- pure-Python models -----------------------------------------------------

def py_normalize(s: str) -> str:
    return re.sub(r"\s+", " ", s.lower()).strip()


def py_token_count(s: str) -> int:
    t = s.strip()
    return 0 if not t else len(re.split(r"\s+", t))


def py_dup_token_fraction(s: str) -> float:
    toks = py_normalize(s).split(" ")
    return (len(toks) - len(set(toks))) / len(toks)


def py_top_bigram_fraction(s: str) -> float:
    toks = py_normalize(s).split(" ")
    if len(toks) < 2:
        return 0.0
    grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return max(Counter(grams).values()) / len(grams)


def py_pii(s: str) -> tuple[int, str]:
    total = 0
    for kind, pat in text.PII_PATTERNS:
        total += len(re.findall(pat, s))
        s = re.sub(pat, f"<{kind}>", s)
    return total, s


# -- generated corpus -------------------------------------------------------

EDGE_CASES = [
    "",
    " ",
    "\t\n  ",
    "a",
    "a a",
    "a  a",
    "a\tb\nc",
    "the the the the",
    "one two one two one two",
    "...!!!,,,",
    "a.b@c.de and x_1+tag@sub.domain.org",
    "call 555-123-4567 or 555.123.4567",
    "ip 10.0.0.1 and 255.255.255.255",
    "card 4111222233334444 short 12345678 long 12345678901234567890",
    "mixed u7@ex.org 10.1.2.3 999-999-9999 123456789 tail",
]


def gen_corpus(n: int = 200, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    words = ["the", "cat", "sat", "mat", "on", "a", "dog", "runs", "fast"]
    frags = [
        "x@y.zz", "1.2.3.4", "111-222-3333", "123456789012",
        "!!", "..", "--", "99", "word", "WORD",
    ]
    out = list(EDGE_CASES)
    for _ in range(n - len(EDGE_CASES)):
        k = rng.randint(0, 12)
        toks = [rng.choice(words + frags) for _ in range(k)]
        sep = rng.choice([" ", "  ", "\t", " \n"])
        out.append(sep.join(toks))
    return out


def test_text_ops_match_python_models(spark):
    corpus = gen_corpus()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i long, s string")
    t = F.col("s")
    rows = df.select(
        "i",
        text.token_count(t).alias("ntok"),
        F.round(text.dup_token_fraction(t), 9).alias("dup"),
        F.round(_top_bigram_fraction(t), 9).alias("big"),
        text.pii_count(t).alias("npii"),
        text.redact_pii(t).alias("red"),
        F.length(text.normalize_text(t)).alias("nnorm"),
    ).collect()
    assert len(rows) == len(corpus)
    for r in rows:
        s = corpus[r["i"]]
        assert r["ntok"] == py_token_count(s), repr(s)
        assert abs(r["dup"] - round(py_dup_token_fraction(s), 9)) < 1e-9, repr(s)
        assert abs(r["big"] - round(py_top_bigram_fraction(s), 9)) < 1e-9, repr(s)
        n, red = py_pii(s)
        assert r["npii"] == n, repr(s)
        assert r["red"] == red, repr(s)
        assert r["nnorm"] == len(py_normalize(s)), repr(s)


def test_shingles_match_python_model(spark):
    corpus = gen_corpus(seed=11)
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i long, s string")
    from vmware_sd_wan_velocloud_bi_intake_spark.operators import dedup

    rows = df.select(
        "i", F.array_sort(dedup.shingles(F.col("s"), 3)).alias("sh")
    ).collect()
    for r in rows:
        toks = py_normalize(corpus[r["i"]]).split(" ")
        n_sh = max(len(toks) - 2, 1)
        expect = sorted({" ".join(toks[i : i + 3]) for i in range(n_sh)})
        assert r["sh"] == expect, repr(corpus[r["i"]])
