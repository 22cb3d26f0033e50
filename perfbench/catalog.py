"""Catalog probe: the ``queries`` layer, timed in the stream's traced run.

The probe writes the seeded catalog tables (:mod:`perfbench.tables`), runs
one cold pass and :data:`WARM_PASSES` warm passes over :data:`QUERIES`, one
catalog query from each of the eight query modules, in an order the seed
permutes, and then compares every query with its DuckDB oracle
(``tests/oracle_util``), untimed. Each query is built (``Q.fn``, which
includes any eager staging) and evaluated into the noop sink.

It is not a workload of its own: one warm pass of the full 50-query
catalog takes 45-53 s even at the smallest scale, and a run of any catalog
workload (session, tables, cold pass, warm passes, oracle pass) does not
fit the benchmark's run budget beside ``intake`` and ``stream``.
"""

from __future__ import annotations

import os
import time

import numpy as np

from vmware_sd_wan_velocloud_bi_intake_spark.queries import all_queries

from . import tables
from .stats import median

# One query per module, named for the module's own operator family; the
# textvec one is a dedup vehicle, so ``operators.dedup`` is timed here too.
QUERIES = (
    "a08_pricing_summary",  # relational: TPC-H Q1-shape grouped aggregate
    "w07_sessionize",  # events: gap-based sessions over event time
    "dedup_signatures",  # textvec: MinHash signatures + LSH banding
    "p08_nested_items",  # nested: arrays of structs, explode and fold
    "f28_json_extract",  # scalars: JSON path extraction
    "j10_asof_join",  # beyond: as-of join
    "q05_local_supplier_volume",  # tpch: six-way join
    "med_gold_rollup",  # medallion: bronze to gold rollup
)
WARM_PASSES = 2
MODULES = ("relational", "events", "textvec", "nested", "scalars", "beyond", "tpch", "medallion")


def module_of(q) -> str:
    return q.fn.__module__.rsplit(".", 1)[-1]


class CatalogProbe:
    def __init__(self, spark, seed: int, work_dir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(work_dir, "catalog")
        catalog = all_queries()
        order = np.random.default_rng([seed, 11]).permutation(len(QUERIES))
        self.queries = {QUERIES[k]: catalog[QUERIES[k]] for k in order}

    def _pass(self, tag: str) -> list[tuple[str, float, float]]:
        """(module, build_s, exec_s) of every query, in pass order."""
        rows = []
        for name, q in self.queries.items():
            mod = module_of(q)
            with self.tracer.span(f"queries.{mod}", group=f"catalog-{tag}/{name}", query=name):
                t0 = time.perf_counter()
                with self.tracer.span("queries.build"):
                    df = q.fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self.tracer.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            rows.append((mod, t1 - t0, t2 - t1))
        return rows

    def oracle_issues(self) -> list[str]:
        from tests.oracle_util import compare, run_oracle

        issues = []
        for name, q in self.queries.items():
            for issue in compare(q.fn(self.spark, self.sf_dir), run_oracle(q.oracle, self.sf_dir)):
                issues.append(f"{name}: {issue}")
        return issues

    def run(self) -> tuple[list[str], dict, dict]:
        """(check issues, per-layer metrics, their bases)."""
        digest = tables.write(self.seed, self.sf_dir)
        t = time.perf_counter()
        self._pass("cold")
        cold_pass_s = time.perf_counter() - t
        warm = [self._pass(f"warm{p}") for p in range(WARM_PASSES)]
        issues = self.oracle_issues()
        metrics = {
            f"queries.{m}_s": (median([sum(b + e for mod, b, e in rows if mod == m) for rows in warm]), "s")
            for m in MODULES
        }
        metrics["queries.build_s"] = (median([sum(b for _, b, _ in rows) for rows in warm]), "s")
        metrics["queries.exec_s"] = (median([sum(e for _, _, e in rows) for rows in warm]), "s")
        metrics["queries.cold_pass_s"] = (cold_pass_s, "s")
        bases = {
            "queries": {
                "order": list(self.queries),
                "warm_passes": WARM_PASSES,
                "warm_pass_s": [sum(b + e for _, b, e in rows) for rows in warm],
                "oracle_checked": len(self.queries),
                "tables_sha256": digest,
            }
        }
        return issues, metrics, bases
