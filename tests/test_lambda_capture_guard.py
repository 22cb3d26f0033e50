"""Structural guard against higher-order-function capture blow-ups.

Spark evaluates higher-order functions (transform/filter/aggregate/zip_with)
interpreted, re-evaluating any expression the lambda CAPTURES from the
enclosing scope once per array element — no common-subexpression elimination
crosses the lambda boundary. A ``transform(distinct(g), d -> size(filter(g,
...)))`` form where ``g`` derives from a regexp normalize+split therefore
re-runs the regexp O(elements) or O(elements^2) times per row; measured 245 s
vs 2 s for ``top_bigram_fraction`` over 5k documents at sf0.1 before the
round-5 fix.

The guard is structural, not timing-based: in the optimized plan's text,
input attributes render as ``name#id`` while lambda-bound variables render as
``lambda name#id``. A heavy function call (regexp, split, md5, conv) whose
argument subtree references a NON-lambda attribute inside a lambdafunction
body is exactly the anti-pattern — heavy work over lambda variables (e.g.
one md5 per shingle) is legitimate per-element work and passes.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.operators import dedup, text

HEAVY_FNS = ("regexp_replace(", "regexp_extract_all(", "split(", "md5(", "conv(")

# a plain attribute reference: word#digits NOT preceded by "lambda "
ATTR_REF = re.compile(r"(?<!lambda )\b\w+#\d+")


def _top_bigram_fraction(c):
    """The catalog's staging of the signal: normalize, split, bigrams."""
    toks = F.split(text.normalize_text(c), " ")
    return text.top_bigram_fraction_from(text.bigrams_from(toks))


def _balanced_span(s: str, start: int) -> str:
    """Return the contents of the parenthesized span opening at s[start]."""
    assert s[start] == "("
    depth = 0
    for i in range(start, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[start + 1 : i]
    return s[start + 1 :]  # unbalanced tail: scan what's there


def _lambda_bodies(plan: str) -> list[str]:
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        out.append(_balanced_span(plan, m.end() - 1))
    return out


def captured_heavy_calls(df) -> list[str]:
    """Heavy function calls over captured (non-lambda) attributes inside
    lambda bodies of the DataFrame's optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bad = []
    for body in _lambda_bodies(plan):
        for fn in HEAVY_FNS:
            for m in re.finditer(re.escape(fn), body):
                args = _balanced_span(body, m.end() - 1)
                if ATTR_REF.search(args):
                    bad.append(f"{fn}{args[:80]}...")
    return bad


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [("the cat sat on the mat the cat sat",), ("", ), ("one",)],
        "text string",
    )


@pytest.mark.parametrize(
    "name,expr_fn",
    [
        ("top_bigram_fraction", lambda c: _top_bigram_fraction(c)),
        ("dup_token_fraction", lambda c: text.dup_token_fraction(c)),
        ("pii_count", lambda c: text.pii_count(c)),
        ("shingles", lambda c: dedup.shingles(c, 3)),
        (
            "minhash",
            lambda c: dedup.minhash_sig_expr(dedup.shingles(c, 3), 8),
        ),
        ("simhash", lambda c: dedup.simhash_expr(dedup.shingles(c, 2), 32)),
    ],
)
def test_no_captured_heavy_work_in_lambdas(docs, name, expr_fn):
    df = docs.select(expr_fn(F.col("text")).alias("x"))
    bad = captured_heavy_calls(df)
    assert bad == [], f"{name}: heavy work re-evaluated per element: {bad}"


def test_guard_detects_the_anti_pattern(docs):
    """The guard itself must flag the known-bad captured form."""
    toks = F.split(text.normalize_text(F.col("text")), " ")
    bad_expr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    df = docs.select(bad_expr.alias("x"))
    assert captured_heavy_calls(df), "guard failed to flag a captured split"
