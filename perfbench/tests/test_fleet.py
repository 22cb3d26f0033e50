import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fleet as fl

SMALL = dict(n_vcos=2, n_enterprises=3, n_edges=4)


def _payloads(seed: int, cycle: int) -> str:
    f = fl.Fleet(seed, **SMALL)
    t = fl.FleetTransport(f, cycle)
    out = []
    for vco in f.vcos:
        for ent in range(f.n_enterprises):
            ep = {"vco": vco, "enterpriseId": ent}
            out.append(t("enterprise/getEnterpriseEdges", {"endpoint": ep, "with": ["site", "recentLinks"]}))
            out.append(t("event/getEnterpriseEvents", {"endpoint": ep}))
    return json.dumps(out, sort_keys=True)


def test_same_seed_same_bytes_other_seed_differs():
    assert _payloads(7, 1) == _payloads(7, 1)
    assert _payloads(7, 1) != _payloads(8, 1)
    assert _payloads(7, 1) != _payloads(7, 2)  # each cycle changes edges


def test_edge_ids_are_unique_across_vcos():
    f = fl.Fleet(1, **SMALL)
    want = fl.expected_tables(f, 1)
    assert want["edge"] == f.edge_rows == 24
    assert want["customer"] == 6


def test_change_share_is_about_ten_percent():
    f = fl.Fleet(3, 8, 10, 10)
    t = fl.FleetTransport(f, 5)
    changed = sum(t._changed(v, e, i) for v in f.vcos for e in range(10) for i in range(10))
    assert 40 <= changed <= 120


def test_transport_counts_calls_and_endpoints():
    class Acc:
        def __init__(self):
            self.value = fl.CallStatsParam().zero(None)

        def add(self, c):
            fl.CallStatsParam().addInPlace(self.value, c)

    acc = Acc()
    t = fl.FleetTransport(fl.Fleet(1, **SMALL), 1, acc)
    for _ in range(3):
        t("enterprise/getEnterpriseEdges", {"endpoint": {"vco": "vco0", "enterpriseId": 0}})
    t("enterprise/getEnterprises", {"endpoint": {"vco": "vco0"}})
    calls, distinct, busy = fl.call_counts(acc.value)
    assert (calls, distinct) == (4, 2)
    assert busy >= 0


def _land(out_dir: str, f: fl.Fleet, cycle: int, plant=None) -> None:
    """Write the tables an intake cycle should land, optionally corrupted."""
    t = fl.FleetTransport(f, cycle)
    edges, links = [], []
    for vco in f.vcos:
        for ent in range(f.n_enterprises):
            ep = {"vco": vco, "enterpriseId": ent}
            for e in t("enterprise/getEnterpriseEdges", {"endpoint": ep, "with": ["site", "recentLinks"]}):
                edges.append(
                    {
                        "vco": vco,
                        "enterprise_id": ent,
                        "edge_uuid": e["logicalId"],
                        "edge_state": e["edgeState"],
                        "build_number": e["buildNumber"],
                        "last_contact": pd.Timestamp(e["lastContact"]),
                        "country": e["site"]["country"],
                        "city": e["site"]["city"],
                        "n_links": len(e["recentLinks"]),
                    }
                )
                links += [{"link_id": f"{e['logicalId']}-{x['internalId']}"} for x in e["recentLinks"]]
    edge = pd.DataFrame(edges)
    if plant:
        edge = plant(edge)
    customers = pd.DataFrame({"vco": [v for v in f.vcos for _ in range(f.n_enterprises)]})
    for name, df in (("edge", edge), ("links", pd.DataFrame(links)), ("customer", customers)):
        os.makedirs(os.path.join(out_dir, name))
        pq.write_table(pa.Table.from_pandas(df), os.path.join(out_dir, name, "part-0.parquet"))


def test_check_accepts_the_right_tables(tmp_path):
    f = fl.Fleet(1, **SMALL)
    _land(str(tmp_path), f, 2)
    assert fl.check_landed(f, 2, str(tmp_path)) == []


def test_check_rejects_a_stale_edge_state(tmp_path):
    f = fl.Fleet(1, **SMALL)

    def stale(edge):
        edge.loc[0, "edge_state"] = "STALE"
        return edge

    _land(str(tmp_path), f, 2, stale)
    issues = fl.check_landed(f, 2, str(tmp_path))
    assert len(issues) == 1 and issues[0].startswith("edge_hash")


def test_check_rejects_a_missing_edge_row(tmp_path):
    f = fl.Fleet(1, **SMALL)
    _land(str(tmp_path), f, 2, lambda edge: edge.iloc[1:])
    issues = fl.check_landed(f, 2, str(tmp_path))
    assert any(i.startswith("edge:") for i in issues)


def test_check_rejects_the_previous_cycle(tmp_path):
    f = fl.Fleet(1, **SMALL)
    _land(str(tmp_path), f, 1)
    assert fl.check_landed(f, 2, str(tmp_path)) != []



def test_a_cycle_changes_only_the_seeded_share_of_edges():
    f = fl.Fleet(4, 8, 10, 10)
    rows = {}
    for cycle in (0, 1):
        t = fl.FleetTransport(f, cycle)
        rows[cycle] = {
            e["logicalId"]: (e["edgeState"], e["lastContact"])
            for vco in f.vcos
            for ent in range(10)
            for e in t("enterprise/getEnterpriseEdges", {"endpoint": {"vco": vco, "enterpriseId": ent}})
        }
    moved = sum(rows[0][k] != rows[1][k] for k in rows[0])
    # edges changed in cycle 0 or in cycle 1: about 2 x 10%
    assert 80 <= moved <= 240
