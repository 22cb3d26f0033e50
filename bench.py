#!/usr/bin/env python
"""Benchmark harness: run every catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully evaluated through the noop sink (all columns computed,
nothing collected to the driver) — the honest analog of writing results out.
Each query runs N_RUNS times and reports the MINIMUM, the standard way to
separate the query's true cost from CPU-contention / JIT / scheduler noise
(single-run numbers on this shared box vary up to 4× run-to-run).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vmware_sd_wan_velocloud_bi_intake_spark.queries import all_queries
from vmware_sd_wan_velocloud_bi_intake_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# min-of-N: interleaved passes (whole catalog per pass, so a CPU-steal
# burst hits different queries each time) give a stable minimum
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# per-pass sentinel at or under this is a clean-host pass: truly clean
# passes on this box probe ~0.67-0.72 s, and probes at 0.76 already came
# with catalog walls ~20% over a clean run's (SCALE.md)
CLEAN_HOST_SENTINEL_BAND = 0.75

# the published bar: 2× the r2 catalog envelope at sf0.1 (25.35 s →
# 50.7 s); SCALE.md carries the envelope → composition ledger
R2_ENVELOPE_SF01 = 25.35
BAR_MULTIPLE = 2.0


def _sentinel_once(spark) -> float:
    """One un-minimized sentinel execution (the per-pass probe)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 20_000_000, 1, 32)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .select(F.max("h").alias("m"), F.count("*").alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


def sentinel_sec(spark) -> float:
    """Fixed-cost host-speed probe: a deterministic all-core md5 fold whose
    plan never changes across rounds, so query / sentinel ratios cancel
    same-box host drift between runs. min-of-3, same noise defense as the
    queries."""
    return round(min(_sentinel_once(spark) for _ in range(3)), 3)


def clean_window(per_pass: list[float]) -> bool:
    """True when the recorded minima have seen a clean-host window:
    (a) the median per-pass sentinel is inside the band — most passes ran
    on a clean host; or (b) at least TWO individual passes probed clean —
    the minima were refreshed on a clean window even if the median stays
    hot. Single-shot probes can catch a momentary idle gap mid-burst,
    hence two, not one. A zero-pass run has nothing to judge."""
    if not per_pass:
        return True
    band = CLEAN_HOST_SENTINEL_BAND
    return (
        statistics.median(per_pass) <= band
        or sum(1 for s in per_pass if s <= band) >= 2
    )


def infer_sf(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def skip_list(catalog: dict) -> list[str]:
    """Documented exclusion hook for one-off scale points (SCALE.md 30×:
    the by-design O(n²) recall yardstick sim_cosine_topk is skipped
    there — ~9× its 10× wall for no new information; its scale path
    sim_ann_ivf stays in). Never set for round artifacts: the driver
    runs a clean env, and the published "skipped" list makes any use
    visible in the JSON. Unknown names are ignored (not an error — the
    env var may outlive a catalog fold)."""
    return sorted(
        n
        for n in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",")
        if n and n in catalog
    )


def bench_record(
    timings: dict[str, float],
    first_pass_queries: dict[str, float],
    sentinel: float,
    per_pass: list[float],
    sf: float,
    master: str,
    default_parallelism: int,
    cpus_env: str | None,
    skipped: list[str],
) -> dict:
    """The published JSON record. The bar keys are null off sf0.1: the bar
    prices the sf0.1 catalog composition."""
    total = round(sum(timings.values()), 3)
    bar = round(R2_ENVELOPE_SF01 * BAR_MULTIPLE, 3) if sf == 0.1 else None
    return {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # the effective master and the scheduler's actual parallelism, so a
        # flat per-query cpus ratio at sf0.1 (driver-action floors) is
        # distinguishable from an ignored core count
        "master": master,
        "default_parallelism": default_parallelism,
        "cpus_env": cpus_env,
        # training-inclusive pass-1 walls: vehicles that memoize trained
        # index artifacts per application train on pass 1 only, so the
        # min-of-N figure excludes training cost by construction
        "first_pass_queries": first_pass_queries,
        "sentinel_sec": sentinel,
        "sentinel_per_pass": per_pass,
        "runs": len(per_pass),
        "gate_satisfied": clean_window(per_pass),
        "bar_seconds": bar,
        "headroom_seconds": None if bar is None else round(bar - total, 3),
        "skipped": skipped,
    }


def main() -> None:
    spark = get_spark(app_name="bench")
    catalog = all_queries()
    skipped = skip_list(catalog)
    for n in skipped:
        catalog.pop(n)
    if not catalog:
        raise SystemExit(
            "SPARK_GRAFT_BENCH_SKIP removed every catalog query — "
            "nothing to bench (unset it or keep at least one name)"
        )

    # warm the JVM + parquet footers + Python worker pool once so per-query
    # numbers measure the queries, not session/pool spin-up (any vehicle
    # works if the usual one was skipped via SPARK_GRAFT_BENCH_SKIP)
    warm_q = catalog.get("a08_pricing_summary") or next(iter(catalog.values()))
    warm_q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    sentinel = sentinel_sec(spark)

    timings: dict[str, float] = {}
    first_pass_queries: dict[str, float] = {}
    # one single-shot probe after each pass: a host-drift trace per pass
    per_pass: list[float] = []
    for pass_i in range(N_RUNS):
        for name, q in sorted(catalog.items()):
            t0 = time.perf_counter()
            q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
        if pass_i == 0:
            first_pass_queries = dict(timings)
        per_pass.append(_sentinel_once(spark))

    sc = spark.sparkContext
    record = bench_record(
        timings,
        first_pass_queries,
        sentinel,
        per_pass,
        infer_sf(SF_DIR),
        sc.master,
        sc.defaultParallelism,
        os.environ.get("SPARK_GRAFT_CPUS"),
        skipped,
    )
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
