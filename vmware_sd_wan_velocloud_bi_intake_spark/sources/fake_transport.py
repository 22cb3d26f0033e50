"""Deterministic offline transport for the API source.

Synthesizes VeloCloud-shaped nested entities (SURVEY.md §1.1) from a seed —
enterprises with edges carrying ``site`` structs, ``recentLinks[]``,
``licenses[]``, and events — so the end-to-end pipeline (``plans/``) and the
source-adapter tests run hermetically with realistic nesting. Purely
synthetic data derived from md5 of the entity key; no external services.
"""

from __future__ import annotations

import hashlib


def _h(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:12], 16)


def _pick(key: str, options: list):
    return options[_h(key) % len(options)]


STATES = ["CONNECTED", "CONNECTED", "CONNECTED", "OFFLINE", "DEGRADED"]
COUNTRIES = ["US", "DE", "FR", "JP", "BR", "GB"]
NETWORK_TYPES = ["ETHERNET", "WIRELESS"]
BACKUP_STATES = ["UNCONFIGURED", "ACTIVE"]


def make_edge(enterprise_id: int, edge_idx: int, projection: list[str]) -> dict:
    key = f"e{enterprise_id}:{edge_idx}"
    edge = {
        "id": enterprise_id * 1000 + edge_idx,
        "logicalId": f"edge-{enterprise_id}-{edge_idx}",
        "name": f"Edge {enterprise_id}-{edge_idx}",
        "edgeState": _pick(key + ":st", STATES),
        "buildNumber": f"4.{_h(key + ':bn') % 6}.{_h(key + ':bp') % 10}",
        "activationTime": "2023-0%d-01T00:00:00.000Z" % (1 + _h(key + ":at") % 9),
        "lastContact": "2024-01-%02dT12:00:00.000Z" % (1 + _h(key + ":lc") % 28),
    }
    if "site" in projection:
        edge["site"] = {
            "lat": round(-60 + (_h(key + ":lat") % 12000) / 100.0, 4),
            "lon": round(-180 + (_h(key + ":lon") % 36000) / 100.0, 4),
            "city": f"City{_h(key + ':city') % 50}",
            "country": _pick(key + ":c", COUNTRIES),
            "postalCode": str(10000 + _h(key + ":pc") % 90000),
        }
    if "recentLinks" in projection:
        n_links = 1 + _h(key + ":nl") % 3
        edge["recentLinks"] = [
            {
                "internalId": f"link-{enterprise_id}-{edge_idx}-{li}",
                "ipAddress": f"10.{enterprise_id % 256}.{edge_idx % 256}.{li}",
                "networkType": _pick(f"{key}:{li}:nt", NETWORK_TYPES),
                "backupState": _pick(f"{key}:{li}:bs", BACKUP_STATES),
                "bytesRx": _h(f"{key}:{li}:rx") % 10**9,
                "bytesTx": _h(f"{key}:{li}:tx") % 10**9,
                "scoreRx": (_h(f"{key}:{li}:sr") % 800) / 100.0,
                "scoreTx": (_h(f"{key}:{li}:stx") % 800) / 100.0,
            }
            for li in range(n_links)
        ]
    if "licenses" in projection:
        edge["licenses"] = [
            {
                "sku": f"SKU-{_h(key + ':sku') % 7}",
                "start": "2023-01-01T00:00:00.000Z",
                "end": "2025-01-01T00:00:00.000Z",
                "active": (_h(key + ":la") % 10) > 1,
            }
        ]
    return edge


def make_enterprise(vco: str, enterprise_idx: int) -> dict:
    key = f"{vco}:c{enterprise_idx}"
    return {
        "id": enterprise_idx,
        "logicalId": f"ent-{vco}-{enterprise_idx}",
        "name": f"Enterprise {vco} {enterprise_idx}",
        "created": "2022-0%d-15T00:00:00.000Z" % (1 + _h(key + ":cr") % 9),
    }


class FakeVcoTransport:
    """Callable transport: (method, params) → JSON-able result.

    Supported methods mirror the reference's API-call wrappers
    (``Functions/vco_calls.py``): enterprise listing, edge listing with
    ``with:`` projection, and per-edge events with ``interval`` filtering.
    """

    def __init__(self, n_enterprises: int = 5, n_edges: int = 4):
        self.n_enterprises = n_enterprises
        self.n_edges = n_edges
        self.calls: list[tuple[str, dict]] = []

    def __call__(self, method: str, params: dict) -> object:
        self.calls.append((method, params))
        vco = params.get("endpoint", {}).get("vco", "vco0")
        if method == "enterprise/getEnterprises":
            return [make_enterprise(vco, i) for i in range(self.n_enterprises)]
        if method == "enterprise/getEnterpriseEdges":
            ent = params.get("enterpriseId", params.get("endpoint", {}).get("enterpriseId", 0))
            projection = params.get("with", [])
            return [make_edge(ent, i, projection) for i in range(self.n_edges)]
        if method == "event/getEnterpriseEvents":
            ent = params.get(
                "enterpriseId", params.get("endpoint", {}).get("enterpriseId", 0)
            )
            interval = params.get("interval", {"start": 0, "end": 10**15})
            limit = params.get("limit", 10**9)
            events = []
            for i in range(40):
                ts_ms = 1704067200000 + i * 9 * 3600 * 1000  # 2024-01-01 + 9h steps
                if interval["start"] <= ts_ms < interval["end"] and len(events) < limit:
                    events.append(
                        {
                            "eventTime": _ms_to_iso(ts_ms),
                            "event": _pick(f"{vco}:{ent}:{i}:ev", ["EDGE_UP", "EDGE_DOWN", "LINK_ALIVE", "BADCONFIG"]),
                            "edgeLogicalId": f"edge-{ent}-{_h(f'{vco}:{ent}:{i}:e') % 4}",
                        }
                    )
            return {"data": events}
        if method == "network/getNetworkGateways":
            n_gw = 6
            out = []
            for g in range(n_gw):
                key = f"{vco}:g{g}"
                out.append(
                    {
                        "id": g,
                        "logicalId": f"gw-{vco}-{g}",
                        "name": f"Gateway {vco} {g}",
                        "gatewayState": _pick(key + ":st", STATES),
                        "buildNumber": f"5.{_h(key + ':bn') % 4}.0",
                        "site": {"country": _pick(key + ":c", COUNTRIES)},
                        "utilizationDetail": {
                            "cpu": (_h(key + ":cpu") % 1000) / 10.0,
                            "memory": (_h(key + ":mem") % 1000) / 10.0,
                            "load": (_h(key + ":ld") % 1000) / 10.0,
                        },
                        "connectedEdgeList": [
                            {"edgeLogicalId": f"edge-{_h(f'{key}:{i}:e') % 5}-{i % 4}"}
                            for i in range(1 + _h(key + ":ne") % 4)
                        ],
                    }
                )
            return out
        if method == "metrics/getGatewayStatusMetrics":
            gw = params.get("gatewayId", params.get("endpoint", {}).get("gatewayId", 0))
            interval = params.get("interval", {"start": 0, "end": 10**15})
            samples = []
            for i in range(24):
                ts_ms = 1704067200000 + i * 3600 * 1000
                if interval["start"] <= ts_ms < interval["end"]:
                    key = f"{vco}:g{gw}:m{i}"
                    samples.append(
                        {
                            "ts": ts_ms,
                            "cpuPct": (_h(key + ":c") % 1000) / 10.0,
                            "memoryPct": (_h(key + ":m") % 1000) / 10.0,
                            "flowCount": _h(key + ":f") % 100000,
                            "tunnelCount": _h(key + ":t") % 5000,
                        }
                    )
            return {"series": samples}
        raise ValueError(f"unsupported method: {method}")


def _ms_to_iso(ms: int) -> str:
    import datetime

    dt = datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.000Z")


class FlakyLicenseTransport(FakeVcoTransport):
    """Fake transport whose heavy edge call fails — the S2 test double.

    ``getEnterpriseEdges`` raises whenever the projection includes
    ``licenses`` (the reference's observed ApiException shape on older VCOs,
    ``Functions/vco_calls.py:178-186``); every other call behaves like
    :class:`FakeVcoTransport`. Deterministic, hermetic, importable on
    executors via the ``transport`` option. A test fixture: it lives in the
    package, beside the transport it extends, so executors can import it.
    """

    def __call__(self, method: str, params: dict) -> object:
        if (
            method == "enterprise/getEnterpriseEdges"
            and "licenses" in (params.get("with") or [])
        ):
            self.calls.append((method, params))
            raise RuntimeError("ApiException: licenses not supported")
        return super().__call__(method, params)


def flaky_license_transport() -> FlakyLicenseTransport:
    """Factory for the ``transport`` option (``module:callable`` spec)."""
    return FlakyLicenseTransport()
