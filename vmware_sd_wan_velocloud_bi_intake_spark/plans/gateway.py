"""Gateway inventory pipeline — the reference's entry point 2, Spark-first.

Restates ``gateway_script.py:88-327`` (SURVEY.md §3.2) as a DAG:

bronze  = raw gateway payloads, one fetch task per VCO
silver  = CONNECTED gateways flattened (P4 gate, ``gateway_script.py:104``)
        + the gateway↔edge relation from exploding ``connectedEdgeList``
          (J6, ``gateway_script.py:305-322``)
metrics = 24 h status series per gateway → max-aggregates (A14,
          ``gateway_script.py:252-262`` — the reference asks the API for
          maxes; here the raw series is ingested and the max is one
          groupBy, so any other aggregate is a column away)

Scale shape: bronze fan-out is one task per VCO and one per gateway for
metrics (T6); silver is a narrow projection + one explode; the metrics
rollup is a single groupBy keyed by gateway — no other wide dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.api import build_params, fetch_payloads, fetch_payloads_from

GATEWAY_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("logicalId", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("gatewayState", T.StringType()),
            T.StructField("buildNumber", T.StringType()),
            T.StructField("site", T.StructType([T.StructField("country", T.StringType())])),
            T.StructField(
                "utilizationDetail",
                T.StructType(
                    [
                        T.StructField("cpu", T.DoubleType()),
                        T.StructField("memory", T.DoubleType()),
                        T.StructField("load", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField(
                "connectedEdgeList",
                T.ArrayType(
                    T.StructType([T.StructField("edgeLogicalId", T.StringType())])
                ),
            ),
        ]
    )
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField(
            "series",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ts", T.LongType()),
                        T.StructField("cpuPct", T.DoubleType()),
                        T.StructField("memoryPct", T.DoubleType()),
                        T.StructField("flowCount", T.LongType()),
                        T.StructField("tunnelCount", T.LongType()),
                    ]
                )
            ),
        )
    ]
)


def bronze_gateways(
    spark: SparkSession, vcos: list[str], transport_factory
) -> DataFrame:
    """Raw gateway payloads, one fetch task per VCO. No caller yet: the
    catalog's g01 builds its gateways from the catalog tables; this is the
    reference's ``gateway_script.py`` gateway fetch."""
    raw = fetch_payloads(
        spark,
        [{"vco": v} for v in vcos],
        "network/getNetworkGateways",
        build_params(),
        transport_factory,
    )
    return raw.select(
        F.get_json_object("endpoint", "$.vco").alias("vco"),
        F.explode(F.from_json("payload", GATEWAY_SCHEMA)).alias("gw"),
    )


def silver_gateways(bronze: DataFrame) -> DataFrame:
    """CONNECTED gateways, flattened (P4 gate + projection)."""
    return (
        bronze.filter(F.col("gw.gatewayState") == "CONNECTED")
        .select(
            "vco",
            F.col("gw.id").alias("gateway_id"),
            F.col("gw.logicalId").alias("gateway_uuid"),
            F.col("gw.name").alias("gateway_name"),
            F.col("gw.buildNumber").alias("build_number"),
            F.col("gw.site.country").alias("country"),
            F.col("gw.utilizationDetail.cpu").alias("cpu_pct"),
            F.col("gw.utilizationDetail.memory").alias("memory_pct"),
            F.size(F.col("gw.connectedEdgeList")).alias("n_connected_edges"),
        )
    )


def gateway_relation(bronze: DataFrame, as_of_date: str) -> DataFrame:
    """gatewayrelation rows: explode connectedEdgeList (J6)."""
    return (
        bronze.filter(F.col("gw.gatewayState") == "CONNECTED")
        .select(
            F.col("gw.logicalId").alias("gateway_uuid"),
            F.explode(F.col("gw.connectedEdgeList")).alias("e"),
        )
        .select(
            F.col("e.edgeLogicalId").alias("edge_uuid"),
            "gateway_uuid",
            F.lit(as_of_date).cast("date").alias("relation_date"),
        )
        .distinct()
    )


def gateway_metrics_max(
    spark: SparkSession,
    gateways: DataFrame,
    transport_factory,
    interval_ms: tuple[int, int],
) -> DataFrame:
    """24 h status series → per-gateway max-aggregates (A14).

    One fetch task per (vco, gateway) with the interval pushed down (S4);
    the rollup is a single groupBy keyed by gateway. No caller yet: the
    catalog's g01 rolls its series up from the catalog tables; this is the
    reference's ``gateway_script.py:252-262`` metrics pass.
    """
    # endpoint COLUMN straight from the silver gateways DataFrame — the
    # per-gateway fan-out is planned distributed, no driver round-trip
    eps = gateways.select(
        F.to_json(
            F.struct(F.col("vco"), F.col("gateway_id").alias("gatewayId"))
        ).alias("endpoint")
    )
    raw = fetch_payloads_from(
        eps,
        [("metrics/getGatewayStatusMetrics", build_params(interval=interval_ms))],
        transport_factory,
        max_parallelism=32,
    )
    samples = raw.select(
        F.get_json_object("endpoint", "$.vco").alias("vco"),
        F.get_json_object("endpoint", "$.gatewayId").cast("long").alias("gateway_id"),
        F.explode(F.from_json("payload", METRICS_SCHEMA)["series"]).alias("s"),
    )
    return rollup_status_series(samples)


def rollup_status_series(samples: DataFrame) -> DataFrame:
    """The A14 rollup itself — per-gateway max-aggregates over a status
    sample relation (vco, gateway_id, s struct<ts, cpuPct, memoryPct,
    flowCount, tunnelCount>). Split from the fetch so the catalog vehicle
    (queries/scalars.g01_gateway_rollup) drives the exact production
    aggregation against an oracle. One keyed groupBy, map-side combine."""
    return samples.groupBy("vco", "gateway_id").agg(
        F.max("s.cpuPct").alias("max_cpu_pct"),
        F.max("s.memoryPct").alias("max_memory_pct"),
        F.max("s.flowCount").alias("max_flow_count"),
        F.max("s.tunnelCount").alias("max_tunnel_count"),
        F.count("*").alias("n_samples"),
    )
