"""Seeded VCO fleet for the ``intake`` workload.

:class:`FleetTransport` wraps the package's ``FakeVcoTransport`` and makes
its fleet behave like a real one across intake cycles:

- edge ``logicalId`` (and the link and event ids built from it) are
  namespaced by VCO, so eight VCOs land eight VCOs' worth of edge rows;
- each cycle a seeded ~10% of edges leave their base ``edgeState`` and
  ``lastContact``, so every upsert replaces real rows;
- every call sleeps a fixed service delay, the reference's smallest
  pacing between VCO calls (:data:`SERVICE_DELAY_S`);
- every call is counted, with its busy time, in a Spark accumulator.

The transport runs inside Python workers (``mapInPandas``), so this module
must stay importable there: it imports nothing from the benchmark's runner.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam

from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
    STATES,
    FakeVcoTransport,
)

# Per-call service delay, stated in the result artifact. The reference paces
# its VCO calls with sleeps of 0.1 s and more between calls (SURVEY.md T7:
# powerbi_main_fun.py:48, Functions/vco_calls.py:73); its smallest pacing
# stands here for one orchestrator round trip. It is a floor, not a measured
# VCO latency.
SERVICE_DELAY_S = 0.1
CHANGE_SHARE = 0.10
# the edge table columns the output check hashes
EDGE_CHECK_COLS = (
    "vco",
    "enterprise_id",
    "edge_uuid",
    "edge_state",
    "build_number",
    "last_contact",
    "country",
    "city",
    "n_links",
)
ISO = "%Y-%m-%dT%H:%M:%S.000Z"


def _h(*parts) -> int:
    key = ":".join(str(p) for p in parts)
    return int(hashlib.md5(key.encode()).hexdigest()[:12], 16)


@dataclass(frozen=True)
class Fleet:
    """Shape of the generated fleet; ``seed`` selects its contents."""

    seed: int
    n_vcos: int
    n_enterprises: int
    n_edges: int

    @property
    def vcos(self) -> list[str]:
        return [f"vco{i}" for i in range(self.n_vcos)]

    @property
    def edge_rows(self) -> int:
        return self.n_vcos * self.n_enterprises * self.n_edges


class CallStatsParam(AccumulatorParam):
    """Accumulates ``{"calls|<method>|<endpoint>": n, "busy_s": t}``."""

    def zero(self, value):
        return Counter()

    def addInPlace(self, a, b):
        a.update(b)
        return a


class FleetTransport(FakeVcoTransport):
    """One cycle's view of the fleet, as a ``(method, params)`` transport."""

    def __init__(self, fleet: Fleet, cycle: int, stats=None, delay_s: float = 0.0):
        super().__init__(fleet.n_enterprises, fleet.n_edges)
        self.fleet = fleet
        self.cycle = cycle
        self.stats = stats
        self.delay_s = delay_s

    def _changed(self, vco: str, ent: int, idx: int) -> bool:
        r = _h(self.fleet.seed, "chg", self.cycle, vco, ent, idx) % 10_000
        return r < CHANGE_SHARE * 10_000

    def _edge(self, vco: str, edge: dict) -> dict:
        ent, idx = divmod(edge["id"], 1000)
        ns = f"{vco}-{edge['logicalId']}"
        edge = {**edge, "logicalId": ns}
        # every edge starts from a seeded state; changed edges move on
        base = _h(self.fleet.seed, "st", vco, ent, idx)
        day, hour = _h(self.fleet.seed, "lc", vco, ent, idx) % 28, 12
        if self._changed(vco, ent, idx):
            base += 1 + self.cycle
            day, hour = (day + 1 + self.cycle) % 28, self.cycle % 24
        edge["edgeState"] = STATES[base % len(STATES)]
        edge["lastContact"] = "2024-02-%02dT%02d:00:00.000Z" % (1 + day, hour)
        if "recentLinks" in edge:
            edge["recentLinks"] = [
                {**link, "internalId": f"{vco}-{link['internalId']}"}
                for link in edge["recentLinks"]
            ]
        return edge

    def __call__(self, method: str, params: dict) -> object:
        t0 = time.perf_counter()
        if self.delay_s:
            time.sleep(self.delay_s)
        out = super().__call__(method, params)
        vco = params.get("endpoint", {}).get("vco", "vco0")
        if method == "enterprise/getEnterpriseEdges":
            out = [self._edge(vco, e) for e in out]
        elif method == "event/getEnterpriseEvents":
            out = {
                "data": [
                    {**ev, "edgeLogicalId": f"{vco}-{ev['edgeLogicalId']}"}
                    for ev in out["data"]
                ]
            }
        if self.stats is not None:
            endpoint = json.dumps(params.get("endpoint", {}), sort_keys=True)
            self.stats.add(
                Counter(
                    {
                        f"calls|{method}|{endpoint}": 1,
                        "busy_s": time.perf_counter() - t0,
                    }
                )
            )
        return out


class FleetTransportFactory:
    """Picklable ``transport_factory`` for ``plans.velocloud.run_pipeline``."""

    def __init__(self, fleet: Fleet, cycle: int, stats=None, delay_s: float = 0.0):
        self.fleet = fleet
        self.cycle = cycle
        self.stats = stats
        self.delay_s = delay_s

    def __call__(self) -> FleetTransport:
        return FleetTransport(self.fleet, self.cycle, self.stats, self.delay_s)


def call_counts(stats: Counter) -> tuple[int, int, float]:
    """(calls, distinct (method, endpoint) pairs, busy seconds)."""
    keys = [k for k in stats if k.startswith("calls|")]
    return sum(stats[k] for k in keys), len(keys), float(stats.get("busy_s", 0.0))


def expected_tables(fleet: Fleet, cycle: int) -> dict[str, object]:
    """Row counts and the edge hash the intake must land, from raw payloads.

    Calls the transport directly (no Spark, no delay) for every VCO and
    enterprise, then flattens the payloads in pandas.
    """
    t = FleetTransport(fleet, cycle)
    rows, n_links = [], 0
    for vco in fleet.vcos:
        for ent in t("enterprise/getEnterprises", {"endpoint": {"vco": vco}}):
            edges = t(
                "enterprise/getEnterpriseEdges",
                {
                    "endpoint": {"vco": vco, "enterpriseId": ent["id"]},
                    "with": ["site", "recentLinks", "licenses"],
                },
            )
            for e in edges:
                links = e.get("recentLinks") or []
                n_links += len(links)
                rows.append(
                    {
                        "vco": vco,
                        "enterprise_id": ent["id"],
                        "edge_uuid": e["logicalId"],
                        "edge_state": e["edgeState"],
                        "build_number": e["buildNumber"],
                        "last_contact": e["lastContact"],
                        "country": e["site"]["country"],
                        "city": e["site"]["city"],
                        "n_links": len(links),
                    }
                )
    return {
        "edge": len(rows),
        "links": n_links,
        "customer": fleet.n_vcos * fleet.n_enterprises,
        "edge_hash": frame_hash(pd.DataFrame(rows)),
    }


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash over :data:`EDGE_CHECK_COLS`."""
    cols = list(EDGE_CHECK_COLS)
    lines = sorted("\x1f".join(str(v) for v in row) for row in df[cols].itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def landed_tables(out_dir: str) -> dict[str, object]:
    """The same figures read back from the landed parquet tables."""

    def read(name: str) -> pd.DataFrame:
        return pq.read_table(os.path.join(out_dir, name)).to_pandas()

    edge = read("edge")
    ts = pd.to_datetime(edge["last_contact"], utc=True)
    edge["last_contact"] = ts.dt.strftime(ISO)
    edge["enterprise_id"] = edge["enterprise_id"].astype("int64")
    return {
        "edge": len(edge),
        "links": pq.read_table(os.path.join(out_dir, "links"), columns=["link_id"]).num_rows,
        "customer": pq.read_table(os.path.join(out_dir, "customer"), columns=["vco"]).num_rows,
        "edge_hash": frame_hash(edge),
    }


def check_landed(fleet: Fleet, cycle: int, out_dir: str) -> list[str]:
    """Mismatches between the landed tables and the cycle's raw payloads."""
    want = expected_tables(fleet, cycle)
    got = landed_tables(out_dir)
    return [f"{k}: landed {got[k]!r}, expected {want[k]!r}" for k in want if got[k] != want[k]]
