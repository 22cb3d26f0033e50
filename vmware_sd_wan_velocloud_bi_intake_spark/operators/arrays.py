"""Array operators (SURVEY.md §2.4 A11).

The reference takes the top-1/5/10 of a summed per-link sample series with
index loops (``powerbi_main_fun.py:1970-1978``). Here the k-th highest element
is one ``array_sort`` + index expression that runs inside codegen. The
element-wise series sum and null→0 fill it reads (A10/F17, ``:1957-1968``)
are ``zip_with`` + ``coalesce`` inline in ``queries/nested.a10_series_zipsum``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def kth_highest(arr: Column, k: int) -> Column:
    """A11: k-th highest element of a numeric array (1-based); NULL if the
    array has fewer than k elements."""
    return F.try_element_at(F.reverse(F.array_sort(arr)), F.lit(k))
