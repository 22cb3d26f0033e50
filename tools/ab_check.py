#!/usr/bin/env python
"""Interleaved A/B timing harness for catalog queries.

The box this repo benches on shows bursty CPU-steal (±20-40% over
minutes), so single-probe before/after comparisons routinely "measure"
regressions that are host weather (the r9 dedup-family case, SCALE.md).
The discipline every round's perf claim uses is INTERLEAVED runs in one
session — sentinel, then each query, repeated — so every pass carries
its own host-speed reading and a burst hits all arms equally. This tool
is that discipline as a command:

    python tools/ab_check.py txt_bpe txt_quality_clf --runs 5
    python tools/ab_check.py dedup_survivors --sf /root/testdata/sf0.1

Prints one row per pass (sentinel + per-query wall) and a summary with
min / median and the sentinel-normalized ratio (query_median /
sentinel_median) — the statistic that survives host drift. Compare
ratios, not walls, across sessions.

``--family PREFIX`` expands to every catalog query whose name starts
with PREFIX (``--family dedup`` → the dedup vehicles).

The sentinel is IMPORTED from bench.py — one probe definition, so the
ratios printed here are always comparable to the published bench
sentinels (a drifting duplicate would silently decouple them).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _sentinel_once
from vmware_sd_wan_velocloud_bi_intake_spark.queries import all_queries
from vmware_sd_wan_velocloud_bi_intake_spark.session import get_spark


def interleaved_check(
    spark,
    catalog,
    names,
    sf_dir: str,
    runs: int = 5,
) -> dict:
    """One interleaved sentinel-normalized A/B table over ``names``:
    after one unrecorded warm lap, per pass, one sentinel probe then each
    query once, so a host burst hits all arms equally. Echoes one row per
    pass and returns the summary dict the CLI prints."""

    def run(name: str) -> float:
        t0 = time.perf_counter()
        catalog[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    # warm pass (unrecorded): JVM, parquet footers, Python worker pool
    _sentinel_once(spark)
    for q in names:
        run(q)

    sents: list[float] = []
    walls: dict[str, list[float]] = {q: [] for q in names}
    for _ in range(runs):
        s = _sentinel_once(spark)
        sents.append(s)
        row = [f"sent {s:7.3f}"]
        for q in names:
            w = run(q)
            walls[q].append(w)
            row.append(f"{q} {w:7.3f}")
        print("  ".join(row), flush=True)

    s_med = statistics.median(sents)
    return {
        "sf": sf_dir,
        "runs": runs,
        "sentinel": {"min": min(sents), "median": s_med},
        "queries": {
            q: {
                "min": min(v),
                "median": statistics.median(v),
                "ratio_vs_sentinel": round(statistics.median(v) / s_med, 3),
            }
            for q, v in walls.items()
        },
    }


def expand_names(
    catalog_names, positional: list[str], families: list[str]
) -> list[str]:
    """Resolve CLI inputs to an ordered, de-duplicated query list:
    positional names first, then each ``--family`` prefix expanded to
    every catalog query it matches (sorted). Raises SystemExit on an
    empty selection, a family with no matches, or an unknown name."""
    names = list(positional)
    for prefix in families:
        expanded = sorted(q for q in catalog_names if q.startswith(prefix))
        if not expanded:
            raise SystemExit(f"--family {prefix}: no catalog query matches")
        names.extend(q for q in expanded if q not in names)
    if not names:
        raise SystemExit("no queries given (positional names or --family)")
    unknown = [q for q in names if q not in catalog_names]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown} (see queries/catalog.py)")
    return names


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="*", help="catalog query names")
    ap.add_argument(
        "--family",
        action="append",
        default=[],
        help="expand to all catalog queries with this name prefix",
    )
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    catalog = all_queries()
    names = expand_names(catalog, args.queries, args.family)

    spark = get_spark(app_name="ab_check")
    summary = interleaved_check(spark, catalog, names, args.sf, runs=args.runs)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
