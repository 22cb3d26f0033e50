"""``intake`` workload: warm cycles of the reference's own job.

One op is one call of ``plans.velocloud.run_pipeline`` over the seeded
fleet (:mod:`perfbench.fleet`) into parquet tables that the set-up cycle
already landed. Each cycle the transport changes ~10% of edges, so the
upserts replace real rows. The op's item is one fleet edge landed.
"""

from __future__ import annotations

import os
from collections import Counter

from vmware_sd_wan_velocloud_bi_intake_spark.plans import velocloud

from . import fleet as fl

# VCOs x enterprises per VCO x edges per enterprise. Calls scale with the
# enterprises (one edge and one event endpoint each), and every call sleeps
# SERVICE_DELAY_S, so the fleet is wide in edges and narrow in enterprises.
SHAPE = (8, 2, 25)
SINK_TIER = {"edge": "silver", "links": "silver", "events": "silver", "customer": "gold"}


class Intake:
    ops_multiple = 1

    def __init__(self, spark, seed: int, work_dir: str, tracer):
        self.spark = spark
        self.fleet = fl.Fleet(seed, *SHAPE)
        self.out_dir = os.path.join(work_dir, "tables")
        os.makedirs(self.out_dir)
        self.tracer = tracer
        self.calls: dict[str, Counter] = {}

    def _cycle(self, cycle: int, op: str | None) -> int:
        stats = self.spark.sparkContext.accumulator(Counter(), fl.CallStatsParam())
        factory = fl.FleetTransportFactory(self.fleet, cycle, stats, fl.SERVICE_DELAY_S)
        velocloud.run_pipeline(self.spark, self.fleet.vcos, factory, out_dir=self.out_dir)
        if op is not None:
            self.calls[op] = stats.value
        return self.fleet.edge_rows

    def setup(self) -> None:
        self._cycle(0, None)

    def prepare(self, i: int) -> None:
        pass

    def side_probes(self, op: str) -> None:
        pass

    def final_check(self) -> tuple[list[str], dict]:
        return [], {}

    def describe(self) -> dict:
        return {
            "vcos_enterprises_edges": SHAPE,
            "edges": self.fleet.edge_rows,
            "service_delay_s": fl.SERVICE_DELAY_S,
            "change_share": fl.CHANGE_SHARE,
            "edge_hash_cycle1": fl.expected_tables(self.fleet, 1)["edge_hash"],
        }

    def op(self, i: int, op: str) -> int:
        return self._cycle(i + 1, op)

    def check(self, i: int) -> list[str]:
        return fl.check_landed(self.fleet, i + 1, self.out_dir)

    # ---- traced run -------------------------------------------------------

    def install_tracing(self) -> None:
        """Wrap the layer functions ``run_pipeline`` calls with spans."""
        self._saved = {n: getattr(velocloud, n) for n in ("upsert_parquet", "insert_ignore_parquet")}
        tracer = self.tracer

        def wrap(name, fn):
            def traced(spark, df, path, keys):
                table = os.path.basename(path)
                group = f"{tracer.current_op()}/sinks.{name}/{table}"
                with tracer.span(f"sinks.{name}", group=group, table=table, tier=SINK_TIER[table]):
                    return fn(spark, df, path, keys)

            return traced

        velocloud.upsert_parquet = wrap("upsert", self._saved["upsert_parquet"])
        velocloud.insert_ignore_parquet = wrap("insert_ignore", self._saved["insert_ignore_parquet"])

    def uninstall_tracing(self) -> None:
        for n, fn in self._saved.items():
            setattr(velocloud, n, fn)

    def traced_extras(self) -> tuple[list[str], dict, dict]:
        return [], {}, {}

    def layer_metrics(self, ops: list, groups: dict):
        traced_ops = [o.id for o in ops if o.traced]
        n = len(traced_ops)
        sink_spans = [s for s in self.tracer.spans if s.op in traced_ops and s.name.startswith("sinks.")]
        calls, distinct, busy = 0, 0, 0.0
        for op in traced_ops:
            c, d, b = fl.call_counts(self.calls[op])
            calls, distinct, busy = calls + c, distinct + d, busy + b
        written = sum(t.output_bytes for g, t in groups.items() if "/sinks." in g and g.split("/")[0] in traced_ops)

        def per_op(pred) -> float:
            return sum(s.seconds for s in sink_spans if pred(s)) / n

        return {
            "sources.api_calls_per_op": (calls / n, "count"),
            "sources.fetch_amplification": (calls / distinct, "ratio"),
            "sources.fetch_s": (busy / n, "s"),
            "plans.silver_s": (per_op(lambda s: s.attrs["tier"] == "silver"), "s"),
            "plans.gold_s": (per_op(lambda s: s.attrs["tier"] == "gold"), "s"),
            "sinks.upsert_s": (per_op(lambda s: s.name == "sinks.upsert"), "s"),
            "sinks.insert_ignore_s": (per_op(lambda s: s.name == "sinks.insert_ignore"), "s"),
            "sinks.bytes_written_per_op": (written / n, "bytes"),
        }, {
            "sources.fetch_amplification": {"calls": calls, "distinct_endpoints": distinct},
            "sources.api_calls_per_op": {"calls": calls, "ops": n},
        }
