"""Summary statistics the benchmark reports: medians, quartiles, ratios."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def relative_iqr(values: list[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def ratio(num: float, den: float) -> dict[str, float]:
    """A ratio reported with its base, so it can be re-derived."""
    if den == 0:
        raise ValueError(f"ratio over a zero base ({num} / {den})")
    return {"value": num / den, "num": num, "den": den}


def quarter_medians(values: list[float]) -> tuple[float, float]:
    """Medians of the first and the last quarter (at least one value each)."""
    k = max(1, len(values) // 4)
    return median(values[:k]), median(values[-k:])
