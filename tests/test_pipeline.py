"""End-to-end pipeline tests on the deterministic fake transport:
bronze fetch → silver conformance → gold rollups, plus sink idempotency."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.plans.velocloud import run_pipeline
from vmware_sd_wan_velocloud_bi_intake_spark.sources.api import (
    build_params,
    fetch_payloads,
    fetch_payloads_from,
)
from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
    FakeVcoTransport,
)

VCOS = ["vco0", "vco1"]


def _factory():
    return FakeVcoTransport(n_enterprises=3, n_edges=4)


def _counting_factory(spark):
    """(transport factory, accumulator of ``{"<method>|<endpoint>": calls}``).

    The transport is :func:`_factory`'s, counting every call it answers.
    Built inside a function so the Python workers unpickle it by value.
    """

    class CallCounts(AccumulatorParam):
        def zero(self, value):
            return Counter()

        def addInPlace(self, a, b):
            a.update(b)
            return a

    calls = spark.sparkContext.accumulator(Counter(), CallCounts())

    def factory():
        inner = _factory()

        def transport(method, params):
            endpoint = json.dumps(params.get("endpoint", {}), sort_keys=True)
            calls.add(Counter({f"{method}|{endpoint}": 1}))
            return inner(method, params)

        return transport

    return factory, calls


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pipeline_end_to_end(spark, tmp_path):
    out = run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    # 2 VCOs × 3 enterprises
    assert out.enterprises.count() == 6
    # every enterprise returns 4 edges, all with non-empty logicalId
    assert out.edges.count() == 24
    assert out.edges.filter(F.col("edge_uuid").isNull()).count() == 0
    # links explode: 1-3 links per edge
    n_links = out.links.count()
    assert 24 <= n_links <= 72
    # link ids are composite keys
    assert (
        out.links.filter(~F.col("link_id").contains("-link-")).count() == 0
    )
    # events deduped on (month, edge, name): key is unique
    ev = out.events
    assert (
        ev.groupBy("month", "edge_uuid", "event_name").count().filter("count > 1").count()
        == 0
    )
    # skip-list applied
    assert ev.filter(F.col("event_name") == "LINK_ALIVE").count() == 0
    # gold: one row per enterprise, rollup flags are 0/1
    gold = out.customer_rollup
    assert gold.count() == 6
    assert gold.filter(~F.col("any_wireless").isin(0, 1)).count() == 0
    # each landed table holds one row per distinct key of its frame: a sink
    # that drops or duplicates rows fails here, not only a frame count
    for table, frame, pk in [
        ("edge", out.edges, ["edge_uuid"]),
        ("links", out.links, ["link_id"]),
        ("events", ev, ["month", "edge_uuid", "event_name"]),
        ("customer", gold, ["vco", "enterprise_id"]),
    ]:
        landed = spark.read.parquet(os.path.join(str(tmp_path), table))
        n = landed.count()
        assert landed.select(*pk).distinct().count() == n, table
        assert n == frame.select(*pk).distinct().count(), table


def test_pipeline_idempotent_rerun(spark, tmp_path):
    """Re-running the same batch must not change the stored tables (the
    reference achieves this via per-row upsert idempotency; we via MERGE)."""
    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    first = {
        t: sorted(map(str, spark.read.parquet(str(tmp_path / t)).collect()))
        for t in ["edge", "links", "events", "customer"]
    }
    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    second = {
        t: sorted(map(str, spark.read.parquet(str(tmp_path / t)).collect()))
        for t in ["edge", "links", "events", "customer"]
    }
    assert first == second


def test_landing_fetches_each_endpoint_once_and_releases_bronze(spark, tmp_path):
    """A landing calls each endpoint once, however many sinks read the
    bronze, and leaves no persisted RDD behind (the session is shared, so
    the count is compared, not pinned)."""
    for _ in range(2):
        factory, calls = _counting_factory(spark)
        before = _persistent_rdds(spark)
        run_pipeline(spark, VCOS, factory, out_dir=str(tmp_path))
        assert _persistent_rdds(spark) == before
        # 2 enterprise endpoints + 6 enterprises x (edges, events)
        assert sum(calls.value.values()) == len(calls.value) == 14


def test_cycle_job_budget(spark, tmp_path):
    """A landing runs at most 14 Spark jobs and a warm cycle at most 18: one
    fetch stage for the enterprises and one for their edges and events, no
    forcing action, and no schema-inference job in the sinks."""
    sc = spark.sparkContext
    jobs = []
    for cycle in ("landing", "warm"):
        group = f"test_cycle_job_budget/{cycle}"
        sc.setJobGroup(group, group)
        try:
            run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
        finally:
            sc.setJobGroup(None, None)
        # the status store learns of jobs from the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] <= 14 and jobs[1] <= 18, jobs


def test_failed_fetch_leaves_landed_tables_untouched(spark, tmp_path):
    """One VCO's events call failing fails the cycle before any sink
    replaces its table, and leaves no persisted RDD behind."""
    tables = ["customer", "edge", "events", "links"]
    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))

    def part_files():
        return {t: sorted(os.listdir(tmp_path / t)) for t in tables}

    landed = part_files()
    before = _persistent_rdds(spark)

    def failing_factory():
        inner = _factory()

        def transport(method, params):
            if method == "event/getEnterpriseEvents" and params["endpoint"]["vco"] == "vco1":
                raise RuntimeError("vco1 events call failed")
            return inner(method, params)

        return transport

    with pytest.raises(Exception, match="vco1 events call failed"):
        run_pipeline(spark, VCOS, failing_factory, out_dir=str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == tables  # no staging dir left
    assert part_files() == landed
    assert _persistent_rdds(spark) == before


def test_failed_concurrent_sink_lets_the_others_land(spark, tmp_path, monkeypatch):
    """The events sink failing after the edge sink: the cycle raises its
    error only after the links and customer sinks have returned, those
    tables hold the new cycle's rows, and no staging directory or
    persisted RDD is left behind."""
    from vmware_sd_wan_velocloud_bi_intake_spark.plans import velocloud

    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    landed = {
        t: spark.read.parquet(str(tmp_path / t)).count() for t in ("links", "customer")
    }
    events = sorted(os.listdir(tmp_path / "events"))
    before = _persistent_rdds(spark)

    def grown():  # more enterprises and edges: rows the landing lacks
        return FakeVcoTransport(n_enterprises=4, n_edges=5)

    returned = []
    real_upsert = velocloud.upsert_parquet

    def recording_upsert(spark_, df, path, keys):
        real_upsert(spark_, df, path, keys)
        returned.append(os.path.basename(path))

    def failing_insert_ignore(*args):
        raise RuntimeError("events sink failed")

    monkeypatch.setattr(velocloud, "upsert_parquet", recording_upsert)
    monkeypatch.setattr(velocloud, "insert_ignore_parquet", failing_insert_ignore)
    with pytest.raises(RuntimeError, match="events sink failed"):
        run_pipeline(spark, VCOS, grown, out_dir=str(tmp_path))
    assert sorted(returned) == ["customer", "edge", "links"]
    assert not [d for d in os.listdir(tmp_path) if ".staging." in d]
    assert sorted(os.listdir(tmp_path / "events")) == events
    assert _persistent_rdds(spark) == before
    # the fake fleet repeats edge ids across VCOs, so links are compared
    # by key: the sink keeps one row per link_id
    new = run_pipeline(spark, VCOS, grown)  # lazy: the cycle's own frames
    for table, frame, keys in [
        ("links", new.links, ["link_id"]),
        ("customer", new.customer_rollup, ["vco", "enterprise_id"]),
    ]:
        stored = spark.read.parquet(str(tmp_path / table))
        assert frame.select(keys).subtract(stored.select(keys)).count() == 0, table
        assert stored.count() > landed[table], table


def test_warm_cycles_do_not_accrue_threads(spark, tmp_path):
    """Each cycle's sink pool closes before ``run_pipeline`` returns: the
    Python thread count is the same after each of five warm cycles."""
    import threading

    run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
    counts = []
    for _ in range(5):
        run_pipeline(spark, VCOS, _factory, out_dir=str(tmp_path))
        counts.append(threading.active_count())
    assert len(set(counts)) == 1, counts


def test_pipeline_without_out_dir_stays_lazy(spark):
    """Without ``out_dir`` nothing is fetched or persisted until the caller
    evaluates a frame."""
    factory, calls = _counting_factory(spark)
    before = _persistent_rdds(spark)
    out = run_pipeline(spark, VCOS, factory)
    assert sum(calls.value.values()) == 0
    assert _persistent_rdds(spark) == before
    assert out.edges.count() == 24
    assert sum(calls.value.values()) > 0


def test_fetch_fan_out_capped_at_task_slots(spark):
    """``max_parallelism`` is a maximum: partitions beyond the task slots
    add tasks, not concurrent calls."""
    slots = spark.sparkContext.defaultParallelism
    eps = [{"vco": "vco0", "enterpriseId": e} for e in range(16)]
    eps_df = spark.createDataFrame(
        [(json.dumps(e, sort_keys=True),) for e in eps], "endpoint string"
    )
    wide = fetch_payloads_from(
        eps_df, [("enterprise/getEnterpriseEdges", build_params())], FakeVcoTransport,
        max_parallelism=32,
    )
    assert wide.rdd.getNumPartitions() == min(32, slots)
    for n, cap in [(3, 10), (16, 10), (16, 2), (16, 64)]:
        out = fetch_payloads(
            spark, eps[:n], "enterprise/getEnterpriseEdges", build_params(),
            FakeVcoTransport, max_parallelism=cap,
        )
        assert out.rdd.getNumPartitions() == min(n, cap, slots), (n, cap)


def test_projection_and_interval_pushdown():
    """S3/S4: request builder pushes projection/interval/limit server-side."""
    p = build_params(
        base_params={"enterpriseId": 7},
        projection=["site", "recentLinks"],
        interval=(1000, 2000),
        limit=100,
    )
    assert p["with"] == ["site", "recentLinks"]
    assert p["interval"] == {"start": 1000, "end": 2000}
    assert p["limit"] == 100
    assert p["enterpriseId"] == 7


def test_interval_pushdown_limits_transport_rows():
    """The fake transport honors interval pushdown — events outside the
    window are never shipped (the analog of the reference's API-side
    interval filters)."""
    t = FakeVcoTransport()
    full = t("event/getEnterpriseEvents", {"endpoint": {"vco": "v", "enterpriseId": 1}})
    narrow = t(
        "event/getEnterpriseEvents",
        {
            "endpoint": {"vco": "v", "enterpriseId": 1},
            "interval": {"start": 1704067200000, "end": 1704067200000 + 86400000},
        },
    )
    assert len(narrow["data"]) < len(full["data"])


def test_naming_conformance(spark):
    from vmware_sd_wan_velocloud_bi_intake_spark.functions.naming import (
        camel_to_snake,
        conform_columns,
        snake_to_camel,
    )

    assert camel_to_snake("edgeState") == "edge_state"
    assert camel_to_snake("linkUUIDValue") == "link_uuid_value"
    assert camel_to_snake("already_snake") == "already_snake"
    assert snake_to_camel("edge_state") == "edgeState"
    assert snake_to_camel("a") == "a"
    df = spark.createDataFrame([(1, "x")], "edgeId int, edgeState string")
    assert conform_columns(df).columns == ["edge_id", "edge_state"]
    assert conform_columns(conform_columns(df), "camel").columns == [
        "edgeId",
        "edgeState",
    ]


def test_fetch_payloads_degrade_records_side_channel(spark):
    """S2 at the fetch layer: the degradation is recorded per row in the
    status column (the reference's msg channel), and the payload arrives
    minus the degraded sub-object."""
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.api import (
        build_params,
        fetch_payloads,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
        flaky_license_transport,
    )
    import json

    out = fetch_payloads(
        spark,
        endpoints=[{"vco": "vco0", "enterpriseId": e} for e in range(3)],
        method="enterprise/getEnterpriseEdges",
        params=build_params(
            projection=["site", "recentLinks", "licenses"]
        ),
        transport_factory=flaky_license_transport,
        degradable=["licenses"],
    ).collect()
    assert len(out) == 3
    for r in out:
        assert "with licenses failed - got without licenses" in r["status"]
        edges = json.loads(r["payload"])
        assert len(edges) == 4
        assert all("licenses" not in e for e in edges)
        assert all("site" in e for e in edges)


def test_fetch_payloads_clean_status_is_null(spark):
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.api import (
        build_params,
        fetch_payloads,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
        FakeVcoTransport,
    )

    out = fetch_payloads(
        spark,
        endpoints=[{"vco": "vco0", "enterpriseId": 0}],
        method="enterprise/getEnterpriseEdges",
        params=build_params(projection=["site", "licenses"]),
        transport_factory=FakeVcoTransport,
        degradable=["licenses"],
    ).collect()
    assert len(out) == 1 and out[0]["status"] is None


def test_plan_layer_never_collects(spark, monkeypatch):
    """The per-entity fan-out (edges/events per enterprise, metrics per
    gateway) must be planned distributed — a driver-side collect over the
    discovered fleet is a funnel at 100x fleet size. Plan construction runs
    with DataFrame.collect forbidden, then the plans must still evaluate."""
    import pyspark.sql

    from vmware_sd_wan_velocloud_bi_intake_spark.plans.gateway import (
        bronze_gateways,
        gateway_metrics_max,
        silver_gateways,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.plans.velocloud import (
        run_pipeline,
    )
    from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
        FakeVcoTransport,
    )

    def boom(self):
        raise AssertionError("driver-side collect in the plan layer")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    try:
        out = run_pipeline(spark, ["vco0", "vco1"], FakeVcoTransport)
        gws = silver_gateways(bronze_gateways(spark, ["vco0"], FakeVcoTransport))
        metrics = gateway_metrics_max(
            spark, gws, FakeVcoTransport, (1704067200000, 1704153600000)
        )
    finally:
        monkeypatch.undo()
    assert out.edges.count() == 2 * 5 * 4
    assert out.events.count() > 0
    assert metrics.count() > 0
