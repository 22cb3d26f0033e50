"""String sanitization / validation expressions (SURVEY.md §2.8 F1–F5, F16).

Semantics derived from the reference:
- F1 ``sanitize_text``: latin1-incompatible chars dropped, empty → 'Invalid',
  NULL → NULL (reference ``Functions/data_sanitization.py:12-28``).
- F2 name validation: ``[A-Za-z0-9_ -]{1,60}`` else 'Invalid' (reference
  ``powerbi_main_fun.py:1112-1116``, ``fun_mysql_inserts.py:94-98``).
- F4 postal-code validation: reject on chars outside ``[A-Za-z0-9_ .-]``
  (reference ``powerbi_main_fun.py:677-686``).
- F16 clamp: usage %% capped at 100 (reference ``powerbi_main_fun.py:2065-2070``).

All are pure Column expressions — JVM-side, whole-stage-codegen friendly; no
Python UDFs anywhere on this path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

POSTAL_REJECT_PATTERN = "[^A-Za-z0-9_ .-]"
INVALID = "Invalid"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sanitize_text(col: Column | str) -> Column:
    """Drop latin1-incompatible characters; '' → 'Invalid'; NULL → NULL.

    latin1 (ISO-8859-1) maps exactly the codepoints ≤ 0xFF, so the
    reference's ``encode('latin1', errors='ignore')`` is precisely "drop
    codepoints above U+00FF" — expressed as a single regexp (codegen'd),
    no encode/decode round-trip.
    """
    c = _c(col)
    cleaned = F.regexp_replace(c, r"[^\x00-\xff]", "")
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(F.length(F.trim(cleaned)) == 0, F.lit(INVALID))
        .otherwise(cleaned)
    )


def valid_name(col: Column | str, max_len: int = 60) -> Column:
    """Full-match name validation; non-conforming names become 'Invalid'."""
    c = _c(col)
    pattern = f"^[A-Za-z0-9_ -]{{1,{max_len}}}$"
    return F.when(c.rlike(pattern), c).otherwise(F.lit(INVALID))


def valid_postal_code(col: Column | str, fallback: Column | None = None) -> Column:
    """Reject postal codes containing disallowed characters; fall back."""
    c = _c(col)
    fb = fallback if fallback is not None else F.lit(None).cast("string")
    return F.when(c.rlike(POSTAL_REJECT_PATTERN), fb).otherwise(c)


def clamp_pct(col: Column, upper: float = 100.0, lower: float = 0.0) -> Column:
    """Clamp a percentage into [lower, upper]."""
    return F.greatest(F.lit(lower), F.least(F.lit(upper), col))
