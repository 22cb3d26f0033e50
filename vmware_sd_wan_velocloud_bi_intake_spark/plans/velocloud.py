"""End-to-end medallion pipeline: the reference's main DAG, Spark-first.

Restates ``powerbi_main_script.py`` → ``process_vco`` → ``process_customer``
→ ``process_basic_edge``/``process_full_edge`` (SURVEY.md §3.1) as a DAG of
DataFrames:

bronze  = raw nested API payloads (explicit StructType schemas, from_json)
silver  = conformed flat tables: Edge, Links, Events (deduped)
gold    = customer rollups (the 8-EXISTS-queries-as-one-groupBy, A6)

The reference's per-entity loops become partition-parallel transforms; its
per-statement MySQL commits become one idempotent upsert per output table
(sinks.upsert). Bronze fetch parallelism is the Spark scheduler (T6), with
request pushdown in the source adapter (S3/S4).

One landing fetches each endpoint once, like the reference's cycle: one
stage fetches the enterprises, and one more fetches each enterprise's
edges and then its events in the same task (``process_customer``). With
``out_dir``, ``run_pipeline`` persists both fetches without forcing them:
the edge sink's query builds the caches, then the links, events and
customer sinks read them concurrently, and the caches are released once
all four have returned. A sink failure after the edge sink lets the other
two land before the cycle raises; every sink is idempotent, so the next
cycle converges. Without ``out_dir`` it only builds the plan: nothing
runs and nothing is persisted until the caller evaluates a frame.

At scale: bronze fan-out is at most one task per task slot and per (vco,
enterprise) (``sources.api``); silver transforms are shuffle-free per-edge
projections plus one explode; gold is a single groupBy on customer — the
whole pipeline has exactly two wide dependencies (events dedup, customer
rollup).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.conf import run_together
from ..functions.sanitize import valid_name
from ..sinks.upsert import insert_ignore_parquet, upsert_parquet
from ..sources.api import build_params, fetch_payloads, fetch_payloads_from

# ---------------------------------------------------------------------------
# Declared nested schemas for the API payloads (SURVEY.md §1.4: explicit
# nullable schemas replace the reference's try/except-KeyError tolerance).
# ---------------------------------------------------------------------------
SITE_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("city", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("postalCode", T.StringType()),
    ]
)

LINK_SCHEMA = T.StructType(
    [
        T.StructField("internalId", T.StringType()),
        T.StructField("ipAddress", T.StringType()),
        T.StructField("networkType", T.StringType()),
        T.StructField("backupState", T.StringType()),
        T.StructField("bytesRx", T.LongType()),
        T.StructField("bytesTx", T.LongType()),
        T.StructField("scoreRx", T.DoubleType()),
        T.StructField("scoreTx", T.DoubleType()),
    ]
)

LICENSE_SCHEMA = T.StructType(
    [
        T.StructField("sku", T.StringType()),
        T.StructField("start", T.StringType()),
        T.StructField("end", T.StringType()),
        T.StructField("active", T.BooleanType()),
    ]
)

EDGE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("logicalId", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("edgeState", T.StringType()),
            T.StructField("buildNumber", T.StringType()),
            T.StructField("activationTime", T.StringType()),
            T.StructField("lastContact", T.StringType()),
            T.StructField("site", SITE_SCHEMA),
            T.StructField("recentLinks", T.ArrayType(LINK_SCHEMA)),
            T.StructField("licenses", T.ArrayType(LICENSE_SCHEMA)),
        ]
    )
)

ENTERPRISE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("logicalId", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("created", T.StringType()),
        ]
    )
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("eventTime", T.StringType()),
                        T.StructField("event", T.StringType()),
                        T.StructField("edgeLogicalId", T.StringType()),
                    ]
                )
            ),
        )
    ]
)

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

EDGES_METHOD = "enterprise/getEnterpriseEdges"
EVENTS_METHOD = "event/getEnterpriseEvents"

# Reference skip list analog (P5, powerbi_main_fun.py:845-851).
EVENTS_TO_SKIP = ["LINK_ALIVE"]


@dataclass
class PipelineOutput:
    enterprises: DataFrame
    edges: DataFrame
    links: DataFrame
    events: DataFrame
    customer_rollup: DataFrame


def bronze_enterprises(
    spark: SparkSession, vcos: list[str], transport_factory
) -> DataFrame:
    eps = [{"vco": v} for v in vcos]
    raw = fetch_payloads(
        spark, eps, "enterprise/getEnterprises", build_params(), transport_factory
    )
    return raw.select(
        F.get_json_object("endpoint", "$.vco").alias("vco"),
        F.explode(F.from_json("payload", ENTERPRISE_SCHEMA)).alias("ent"),
    ).select(
        "vco",
        F.col("ent.id").alias("enterprise_id"),
        F.col("ent.logicalId").alias("customer_uuid"),
        F.col("ent.name").alias("customer_name"),
        F.to_timestamp("ent.created", ISO_FMT).alias("created"),
    )


def bronze_enterprise_payloads(
    enterprises: DataFrame, transport_factory, interval_ms: tuple[int, int]
) -> DataFrame:
    """Each (vco, enterprise)'s edges, then its events, in one fetch stage.

    The reference's per-customer thread (``process_customer``,
    powerbi_main_fun.py:150-278) as one task per endpoint row that makes
    both calls: the discovered fleet flows straight from the bronze
    enterprises DataFrame into the fetch (T6), no driver round-trip (a
    collect here is a funnel at 100× fleet). Rows carry their ``method``;
    :func:`bronze_edges` and :func:`bronze_events` project them apart.
    """
    eps = enterprises.select(
        F.to_json(
            F.struct(F.col("vco"), F.col("enterprise_id").alias("enterpriseId"))
        ).alias("endpoint")
    )
    # S3 projection and S4 interval pushdown; enterpriseId rides in the endpoint
    calls = [
        (EDGES_METHOD, build_params(projection=["site", "recentLinks", "licenses"])),
        (EVENTS_METHOD, build_params(interval=interval_ms)),
    ]
    raw = fetch_payloads_from(eps, calls, transport_factory, max_parallelism=32)
    return raw.select(
        F.get_json_object("endpoint", "$.vco").alias("vco"),
        F.get_json_object("endpoint", "$.enterpriseId").cast("long").alias(
            "enterprise_id"
        ),
        "method",
        "payload",
    )


def bronze_edges(payloads: DataFrame) -> DataFrame:
    return payloads.filter(F.col("method") == EDGES_METHOD).select(
        "vco",
        "enterprise_id",
        F.explode(F.from_json("payload", EDGE_SCHEMA)).alias("edge"),
    )


def bronze_events(payloads: DataFrame) -> DataFrame:
    return payloads.filter(F.col("method") == EVENTS_METHOD).select(
        "vco",
        "enterprise_id",
        F.explode(F.from_json("payload", EVENTS_SCHEMA)["data"]).alias("ev"),
    )


def silver_edges(bronze: DataFrame) -> DataFrame:
    """Flat Edge table: P3/P4 filters + P7 projection + A5 link-class counts.

    Mirrors update_attributes + update_recent_link_list
    (powerbi_main_fun.py:1088-1129, :1536-1600) as one select.
    """
    e = F.col("edge")
    links = e["recentLinks"]
    return (
        bronze.filter(e["logicalId"].isNotNull() & (e["logicalId"] != ""))  # P3
        .select(
            "vco",
            "enterprise_id",
            e["logicalId"].alias("edge_uuid"),
            valid_name(e["name"]).alias("edge_name"),
            e["edgeState"].alias("edge_state"),
            e["buildNumber"].alias("build_number"),
            F.to_timestamp(e["activationTime"], ISO_FMT).alias("activated_at"),
            F.to_timestamp(e["lastContact"], ISO_FMT).alias("last_contact"),
            e["site"]["country"].alias("country"),
            e["site"]["city"].alias("city"),
            F.size(F.coalesce(links, F.array())).alias("n_links"),
            F.size(
                F.filter(
                    F.coalesce(links, F.array()),
                    lambda l: l["networkType"] == "WIRELESS",
                )
            ).alias("n_wireless_links"),
            F.size(
                F.filter(
                    F.coalesce(links, F.array()),
                    lambda l: l["backupState"] != "UNCONFIGURED",
                )
            ).alias("n_backup_links"),
            F.exists(
                F.coalesce(e["licenses"], F.array()), lambda lic: lic["active"]
            ).cast("int").alias("has_active_license"),
        )
    )


def silver_links(bronze: DataFrame) -> DataFrame:
    """Exploded per-link table with concat key (J6 + F21)."""
    e = F.col("edge")
    exploded = bronze.filter(e["logicalId"].isNotNull()).select(
        "vco",
        "enterprise_id",
        e["logicalId"].alias("edge_uuid"),
        e["edgeState"].alias("edge_state"),
        F.explode_outer(e["recentLinks"]).alias("link"),
    )
    l = F.col("link")
    return exploded.filter(l.isNotNull()).select(
        "vco",
        "enterprise_id",
        "edge_uuid",
        F.concat_ws("-", F.col("edge_uuid"), l["internalId"]).alias("link_id"),
        l["internalId"].alias("link_uuid"),
        l["networkType"].alias("network_type"),
        l["backupState"].alias("backup_state"),
        l["bytesRx"].alias("bytes_rx"),
        l["bytesTx"].alias("bytes_tx"),
        (l["scoreRx"] + l["scoreTx"]).alias("score_sum"),
    )


def silver_events(bronze: DataFrame) -> DataFrame:
    """Parsed, skip-filtered, month-keyed, deduped events (P5/F7/F10/T4)."""
    ev = F.col("ev")
    parsed = bronze.select(
        "vco",
        "enterprise_id",
        F.to_timestamp(ev["eventTime"], ISO_FMT).alias("event_time"),
        ev["event"].alias("event_name"),
        ev["edgeLogicalId"].alias("edge_uuid"),
    ).filter(~F.col("event_name").isin(EVENTS_TO_SKIP))
    keyed = parsed.withColumn(
        "month", F.date_trunc("month", F.col("event_time")).cast("date")
    )
    # unique (Date, EdgeID, Name) — reference customer.sql:354-355
    return keyed.dropDuplicates(["month", "edge_uuid", "event_name"])


def gold_customer_rollup(enterprises: DataFrame, edges: DataFrame) -> DataFrame:
    """Customer-level rollups: one groupBy replaces 8 EXISTS probes (A6)."""
    connected = edges.filter(F.col("edge_state") == "CONNECTED")  # P4
    per_customer = connected.groupBy("vco", "enterprise_id").agg(
        F.count("*").alias("n_connected_edges"),
        F.max(F.when(F.col("n_wireless_links") > 0, 1).otherwise(0)).alias(
            "any_wireless"
        ),
        F.max(F.when(F.col("n_backup_links") > 0, 1).otherwise(0)).alias(
            "any_backup"
        ),
        F.max("has_active_license").alias("any_active_license"),
        F.max("n_links").alias("max_links_per_edge"),
    )
    return enterprises.join(per_customer, ["vco", "enterprise_id"], "left").fillna(
        0,
        [
            "n_connected_edges",
            "any_wireless",
            "any_backup",
            "any_active_license",
            "max_links_per_edge",
        ],
    )


def run_pipeline(
    spark: SparkSession,
    vcos: list[str],
    transport_factory,
    out_dir: str | None = None,
    interval_ms: tuple[int, int] = (1704067200000, 1706745600000),
) -> PipelineOutput:
    """Build bronze → silver → gold; with ``out_dir``, upsert them to parquet.

    With ``out_dir`` the enterprise fetch and the fused edge + event fetch
    are persisted, not forced: the edge sink runs first and alone, and its
    query builds both caches before it writes. The links, events and
    customer sinks read only those caches and write separate directories,
    so they run together (``functions.conf.run_together``); the
    ``finally`` releases the caches once all three have returned, so a
    landing makes one call per endpoint. A failed fetch fails the edge
    sink before any table is replaced. A sink that fails after the edge
    sink lets the other two land, and the cycle then raises its error;
    each sink is idempotent, so the next cycle converges. The returned
    frames stay valid: evaluated after return, they fetch again. Without
    ``out_dir`` nothing runs: the frames are lazy plans.
    """
    enterprises = bronze_enterprises(spark, vcos, transport_factory)
    payloads = bronze_enterprise_payloads(enterprises, transport_factory, interval_ms)
    b_edges = bronze_edges(payloads)

    s_edges = silver_edges(b_edges)
    s_links = silver_links(b_edges)
    s_events = silver_events(bronze_events(payloads))
    g_customers = gold_customer_rollup(enterprises, s_edges)

    if out_dir:
        bronze = [enterprises, payloads]
        try:
            # in order: the payloads cache then plans over the enterprises one
            for df in bronze:
                df.persist()
            upsert_parquet(spark, s_edges, os.path.join(out_dir, "edge"), ["edge_uuid"])
            # the edge sink built both caches; the other three read only
            # them and write their own directories. All three have
            # returned before the finally releases the caches.
            run_together(
                spark,
                [
                    lambda: upsert_parquet(
                        spark, s_links, os.path.join(out_dir, "links"), ["link_id"]
                    ),
                    lambda: insert_ignore_parquet(
                        spark,
                        s_events,
                        os.path.join(out_dir, "events"),
                        ["month", "edge_uuid", "event_name"],
                    ),
                    lambda: upsert_parquet(
                        spark,
                        g_customers,
                        os.path.join(out_dir, "customer"),
                        ["vco", "enterprise_id"],
                    ),
                ],
            )
        finally:
            # dependents first: releasing enterprises while the payloads
            # cache still reads it makes Spark re-register that cache
            for df in reversed(bronze):
                df.unpersist()
    return PipelineOutput(enterprises, s_edges, s_links, s_events, g_customers)
