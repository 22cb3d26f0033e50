"""Relational query catalog: scans, projections, joins, aggregations, rollups.

Fixture mapping per FIXTURES.md §2 — e.g. the reference's per-edge link lists
map to lineitem-per-order, the country dim join maps to nation⨝region, the
customer EXISTS rollups map to orders-per-customer.

Determinism discipline: every double output comes from either (a) an exact
decimal aggregate cast to double, or (b) a fixed-operand-order scalar
expression over exact inputs — bit-identical under any partitioning and in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.banding import band_by_thresholds
from ..functions.exact import dec
from ..functions.sanitize import clamp_pct, sanitize_text, valid_name
from ..sources.tables import load_table
from .base import Q


# --------------------------------------------------------------------------
# A8/A18/F14: pricing summary — per-flag/status exact sums (TPC-H Q1 shape).
# Reference analog: per-edge link usage sums, powerbi_main_fun.py:2053-2061.
# --------------------------------------------------------------------------
def a08_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(12,2)")
    disc_price = dec("l_extendedprice", 12) * (one - dec("l_discount", 12))
    charge = disc_price * (one + dec("l_tax", 12))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity", 12)).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice", 12)).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (
                F.sum(dec("l_quantity", 12)).cast("double") / F.count("l_quantity")
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


A08_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
           * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)
    AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# P7/F2/A16 + O4/T5 + A15: edge-attribute projection — regex name validation
# + banding — carrying the deterministic hash-bucket sample gate as columns
# (the reference's probabilistic 1-in-10 refresh, powerbi_main_fun.py:271-272,
# :629-631, restated as a stable content hash; checking the bucket over ALL
# rows is strictly stronger than checking the sampled subset).
# Consolidates the former o04_hash_sample entry and (r7) the former
# a15_census vehicle (reference inventory_sla.py:110-140): the three census
# scalars ride every row as broadcast constants — a 1-row broadcast
# nested-loop join, so the per-row projection stays one scan.
# --------------------------------------------------------------------------
def p07_edge_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    census = cust.agg(F.count("*").alias("n_customers")).crossJoin(
        orders.agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers_with_orders"),
        )
    )
    bucket = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)
    return cust.select(
        F.col("c_custkey"),
        valid_name(F.col("c_name")).alias("name_clean"),
        F.lower(F.col("c_mktsegment")).alias("segment"),
        band_by_thresholds(
            F.col("c_acctbal"), [0.0, 2500.0, 7500.0], ["negative", "low", "mid", "high"]
        ).alias("acctbal_band"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("is_positive_bal"),
        bucket.alias("sample_bucket"),
        bucket.isin("0", "1").alias("in_refresh_sample"),
    ).crossJoin(F.broadcast(census))


P07_ORACLE = """
SELECT
  c_custkey,
  CASE WHEN regexp_full_match(c_name, '[A-Za-z0-9_ -]{1,60}')
       THEN c_name ELSE 'Invalid' END AS name_clean,
  lower(c_mktsegment) AS segment,
  CASE WHEN c_acctbal <= 0.0 THEN 'negative'
       WHEN c_acctbal <= 2500.0 THEN 'low'
       WHEN c_acctbal <= 7500.0 THEN 'mid'
       ELSE 'high' END AS acctbal_band,
  CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS is_positive_bal,
  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) AS sample_bucket,
  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1') AS in_refresh_sample,
  (SELECT COUNT(*) FROM customer) AS n_customers,
  (SELECT COUNT(*) FROM orders) AS n_orders,
  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_customers_with_orders
FROM customer
"""


# --------------------------------------------------------------------------
# A6/J5 + F1–F4: customer rollup — one groupBy replaces 8 EXISTS probes —
# enriched with the name-surgery scalar chain (sanitize + validate + regex
# extraction) from the customer dim. Consolidates the former
# f03_name_surgery entry: the string functions are pure projections of
# ``c_name``, so they ride the enrichment join for free.
# Reference: process_attributes_full_customer powerbi_main_fun.py:281-352,
# inverted EXISTS at fun_mysql_query.py:115-126; sanitize_text
# Functions/data_sanitization.py:12-28; name regex powerbi_main_fun.py:
# 1112-1116; marketing-name chain :2443-2455.
# --------------------------------------------------------------------------
def a06_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    flag = lambda pred: F.max(F.when(pred, 1).otherwise(0))
    # counts + any-child flags (max of a 0/1 predicate == BOOL_OR) in ONE
    # groupBy: a separate flags aggregate would scan and shuffle orders
    # twice just to join it back on the same key
    rolled = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_spend"),
        flag(F.col("o_orderpriority") == "1-URGENT").alias("has_urgent"),
        flag(F.col("o_orderstatus") == "O").alias("has_open"),
        flag(F.col("o_totalprice") > 200000.0).alias("has_big_order"),
    )
    name = F.col("c_name")
    digits = F.regexp_extract(name, r"Customer#(\d+)", 1)
    surgery = cust.select(
        F.col("c_custkey").alias("o_custkey"),
        sanitize_text(name).alias("name_sanitized"),
        valid_name(name).alias("name_valid"),
        digits.alias("id_digits"),
        F.regexp_replace(digits, r"^0+", "").alias("id_trimmed"),
        F.trim(F.regexp_replace(F.regexp_replace(name, r"#", " "), r"\s+", " ")).alias(
            "name_despaced"
        ),
    )
    # reference quirk J5: the EXISTS helper returns True when NO row matches
    # (fun_mysql_query.py:124-126) — reproduced as the inverted flag.
    return (
        rolled.withColumn("no_urgent_inverted", 1 - F.col("has_urgent"))
        .join(surgery, "o_custkey")
    )


A06_ORACLE = r"""
SELECT
  o_custkey,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
  CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS INT) AS has_urgent,
  CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS INT) AS has_open,
  CAST(MAX(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS INT) AS has_big_order,
  CAST(1 - MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS INT)
    AS no_urgent_inverted,
  CASE WHEN c_name IS NULL THEN NULL
       WHEN length(trim(regexp_replace(c_name, '[^\x00-\xff]', '', 'g'))) = 0 THEN 'Invalid'
       ELSE regexp_replace(c_name, '[^\x00-\xff]', '', 'g') END AS name_sanitized,
  CASE WHEN regexp_full_match(c_name, '[A-Za-z0-9_ -]{1,60}')
       THEN c_name ELSE 'Invalid' END AS name_valid,
  regexp_extract(c_name, 'Customer#(\d+)', 1) AS id_digits,
  regexp_replace(regexp_extract(c_name, 'Customer#(\d+)', 1), '^0+', '') AS id_trimmed,
  trim(regexp_replace(regexp_replace(c_name, '#', ' ', 'g'), '\s+', ' ', 'g')) AS name_despaced
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY o_custkey, c_name
"""


# --------------------------------------------------------------------------
# J4/F6 + F5/F26/F27: broadcast dim join chain (customer ⨝ nation ⨝ region)
# WITH the dual-join fallback-coalesce and country normalization folded in —
# the primary dim is deliberately partial (even nation keys only) so the
# coalesce path is exercised on every odd key. Consolidates the former
# f05_country_fallback entry; grain is (region, nation_norm, dim_source).
# Reference: country.json region lookup powerbi_main_fun.py:688-690; country
# CASE chain :798-819; two-pass lookup :688-690/:784-786; edge/profile
# coalesce :2313-2337.
# --------------------------------------------------------------------------
def j04_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    primary = nation.filter(F.col("n_nationkey") % 2 == 0).select(
        F.col("n_nationkey").alias("pk"), F.col("n_name").alias("p_name")
    )
    full = nation.select(
        F.col("n_nationkey").alias("fk"),
        F.col("n_name").alias("f_name"),
        F.col("n_regionkey").alias("f_regionkey"),
    )
    joined = (
        cust.join(F.broadcast(primary), cust.c_nationkey == primary.pk, "left")
        .join(F.broadcast(full), cust.c_nationkey == full.fk, "left")
        .join(F.broadcast(region), F.col("f_regionkey") == region.r_regionkey)
        .withColumn("nation_name", F.coalesce(F.col("p_name"), F.col("f_name")))
        .withColumn(
            "dim_source",
            F.when(F.col("p_name").isNotNull(), "primary").otherwise("fallback"),
        )
    )
    normalized = F.when(F.col("nation_name") == "UNITED STATES", "US").when(
        F.col("nation_name") == "UNITED KINGDOM", "UK"
    ).when(F.col("nation_name") == "GERMANY", "DE").when(
        F.col("nation_name") == "FRANCE", "FR"
    ).otherwise(F.col("nation_name"))
    return joined.groupBy(
        F.col("r_name").alias("region"),
        normalized.alias("nation_norm"),
        F.col("dim_source"),
    ).agg(
        F.count("*").alias("n_customers"),
        (F.sum(dec("c_acctbal")).cast("double") / F.count("c_acctbal")).alias(
            "avg_acctbal"
        ),
    )


J04_ORACLE = """
WITH joined AS (
  SELECT
    r_name,
    COALESCE(p.n_name, f.n_name) AS nation_name,
    CASE WHEN p.n_name IS NOT NULL THEN 'primary' ELSE 'fallback' END AS dim_source,
    c_acctbal
  FROM customer
  LEFT JOIN (SELECT * FROM nation WHERE n_nationkey % 2 = 0) p
    ON c_nationkey = p.n_nationkey
  LEFT JOIN nation f ON c_nationkey = f.n_nationkey
  JOIN region ON f.n_regionkey = r_regionkey
)
SELECT
  r_name AS region,
  CASE WHEN nation_name = 'UNITED STATES' THEN 'US'
       WHEN nation_name = 'UNITED KINGDOM' THEN 'UK'
       WHEN nation_name = 'GERMANY' THEN 'DE'
       WHEN nation_name = 'FRANCE' THEN 'FR'
       ELSE nation_name END AS nation_norm,
  dim_source,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal
FROM joined
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# J1: fact ⨝ small dim broadcast join — lineitem ⨝ part, revenue per brand.
# Reference: link metrics ⨝ WAN config links powerbi_main_fun.py:1651-1665.
# --------------------------------------------------------------------------
def j01_metrics_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(12,2)")
    revenue = dec("l_extendedprice", 12) * (one - dec("l_discount", 12))
    # the a19/a22 two-pass distinct discipline (SCALE.md): a countDistinct
    # beside regular aggregates plans as an Expand that replicates every
    # joined fact row ×2 before the exchange; the distinct-pair branch
    # joined back on the 25-row brand key shuffles map-side-combined
    # partials instead (interleaved A/B at sf0.1: 1.38 s vs 1.79 s, r8)
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
    base = j.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.sum(revenue).cast("double").alias("revenue"),
    )
    # COUNT(DISTINCT x) ignores NULL x — a raw distinct-pair count would
    # include the (brand, NULL) row (the a19/a22 null pitfall,
    # tests/test_rollup_null_semantics.py)
    nord = (
        j.select("p_brand", "l_orderkey")
        .where(F.col("l_orderkey").isNotNull())
        .distinct()
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_orders"))
    )
    # both sides are brand-grain (25 rows) but sit behind aggregates
    # Catalyst can't size — broadcast the stitch explicitly, and join
    # NULL-SAFE: the left join above keeps unmatched lineitems as the
    # p_brand=NULL group, which a plain equi-join stitch would orphan
    # (the a22 eqNullSafe lesson). A group absent from nord had only
    # NULL orderkeys; COUNT(DISTINCT) over only-NULL input is 0, so 0
    # is the oracle-identical fill.
    nordb = F.broadcast(nord.select(F.col("p_brand").alias("_nb"), "n_orders"))
    return (
        base.join(nordb, base["p_brand"].eqNullSafe(F.col("_nb")), "left")
        .select(
            "p_brand",
            "n_items",
            "revenue",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        )
    )


J01_ORACLE = """
SELECT
  p_brand,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
    AS revenue,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# J2/J3 + J8/P2: left-semi (EXISTS) AND left-anti (NOT EXISTS) joins in one
# vehicle — customers with an urgent order, union'd with customers having no
# orders at all, each branch tagged. Both physical join operators appear in
# the single plan (semi + anti, both broadcast at dim scale). Consolidates
# the former j02_semi_join / j08_anti_join entries.
# Reference: cluster-membership semi-join powerbi_main_fun.py:1421-1426;
# create-if-missing probes fun_mysql_query.py:129-144; moved-customer
# anti-filter Functions/data_sanitization.py:56-59.
# --------------------------------------------------------------------------
def j02_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment", F.lit("has_urgent").alias("membership"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment", F.lit("no_orders").alias("membership"))
    )
    return semi.unionByName(anti)


J02_ORACLE = """
SELECT c_custkey, c_mktsegment, 'has_urgent' AS membership
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
UNION ALL
SELECT c_custkey, c_mktsegment, 'no_orders' AS membership
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --------------------------------------------------------------------------
# A17/A16 + F22: threshold banding of order value × the HA state machine
# (when-chain + substring-derived booleans) → tier/state census. Both
# classifiers are scalar derivations of the same orders row, so one groupBy
# exercises banding AND the state machine. Consolidates the former
# f22_state_machine entry (per VERDICT round 1: fold F-family vehicles into
# existing multi-op queries).
# Reference: license banding powerbi_main_fun.py:2075-2088; count buckets
# :1374-1381; update_ha_and_cluster :1391-1459.
# --------------------------------------------------------------------------
def a17_order_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    band = band_by_thresholds(
        F.col("o_totalprice"),
        [50000.0, 100000.0, 150000.0, 200000.0, 300000.0],
        ["tier_50k", "tier_100k", "tier_150k", "tier_200k", "tier_300k", "tier_max"],
    )
    ha = (
        F.when(F.col("o_orderstatus") == "O", "ACTIVE_STANDBY_UP")
        .when(F.col("o_orderstatus") == "P", "ACTIVE_STANDBY_DOWN")
        .otherwise("NONE")
    )
    return orders.groupBy(
        band.alias("price_tier"),
        ha.alias("ha_state"),
        F.when(ha.contains("ACTIVE"), 1).otherwise(0).alias("is_active"),
        F.when(ha.contains("DOWN"), 1).otherwise(0).alias("is_down"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("tier_value"),
    )


A17_ORACLE = """
WITH staged AS (
  SELECT
    o_totalprice,
    CASE WHEN o_totalprice <= 50000.0 THEN 'tier_50k'
         WHEN o_totalprice <= 100000.0 THEN 'tier_100k'
         WHEN o_totalprice <= 150000.0 THEN 'tier_150k'
         WHEN o_totalprice <= 200000.0 THEN 'tier_200k'
         WHEN o_totalprice <= 300000.0 THEN 'tier_300k'
         ELSE 'tier_max' END AS price_tier,
    CASE WHEN o_orderstatus = 'O' THEN 'ACTIVE_STANDBY_UP'
         WHEN o_orderstatus = 'P' THEN 'ACTIVE_STANDBY_DOWN'
         ELSE 'NONE' END AS ha_state
  FROM orders
)
SELECT
  price_tier,
  ha_state,
  CASE WHEN contains(ha_state, 'ACTIVE') THEN 1 ELSE 0 END AS is_active,
  CASE WHEN contains(ha_state, 'DOWN') THEN 1 ELSE 0 END AS is_down,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tier_value
FROM staged
GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# A18/F14/F16: usage%% with clamp, per supplier.
# Reference: update_license_and_link_usage powerbi_main_fun.py:2063-2070.
# --------------------------------------------------------------------------
def a18_usage_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n_items"),
    )
    # reference formula shape: used*8 / (capacity window) * 100, clamped
    usage = per_supp.withColumn(
        "usage_pct",
        clamp_pct(F.col("sum_qty") * F.lit(8.0) / F.lit(60.0 * 60.0 * 8.0 * 5.0) * F.lit(100.0)),
    )
    return usage.select("l_suppkey", "sum_qty", "n_items", "usage_pct")


A18_ORACLE = """
SELECT
  l_suppkey,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n_items,
  GREATEST(0.0, LEAST(100.0,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * 8.0 / (60.0*60.0*8.0*5.0) * 100.0
  )) AS usage_pct
FROM lineitem
GROUP BY l_suppkey
"""


# --------------------------------------------------------------------------
# T1/F12: staleness gate — recency predicate + modulo cadence.
# Reference: fun_mysql_query.py:40-60 (8-day gate), powerbi_main_fun.py:439
# (6-day cadence).
# --------------------------------------------------------------------------
def t01_staleness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    asof = F.lit("1998-01-01").cast("date")
    return (
        orders.withColumn("age_days", F.datediff(asof, F.col("o_orderdate")))
        .filter(
            (F.col("o_orderdate") < F.lit("1995-06-01").cast("date"))
            & (F.pmod(F.col("age_days"), F.lit(6)) == 0)
        )
        .select(
            "o_orderkey",
            # dates surface as ISO strings: identical representation in every
            # engine/arrow/pandas bridge (DATE round-trips inconsistently)
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "age_days",
        )
    )


T01_ORACLE = """
SELECT
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  datediff('day', o_orderdate, TIMESTAMP '1998-01-01') AS age_days
FROM orders
WHERE o_orderdate < DATE '1995-06-01'
  AND datediff('day', o_orderdate, TIMESTAMP '1998-01-01') % 6 = 0
"""


QUERIES: dict[str, Q] = {
    "a08_pricing_summary": Q(
        a08_pricing_summary,
        A08_ORACLE,
        ("A8", "A18", "F14", "S-scan", "P11"),
        "TPC-H Q1-shape exact-decimal pricing summary",
    ),
    "p07_edge_attributes": Q(
        p07_edge_attributes,
        P07_ORACLE,
        ("P7", "F2", "A16", "O4", "T5", "O3", "A15"),
        "attribute projection: regex validation, banding, hash-sample gate, "
        "broadcast census constants",
        folds=("r7: a15 (broadcast census constants)",),
    ),
    "a06_customer_rollup": Q(
        a06_customer_rollup,
        A06_ORACLE,
        ("A6", "J5", "A4", "F1", "F2", "F3", "F4", "U4"),
        "customer any-child flags + name-surgery scalar chain",
    ),
    "j04_region_rollup": Q(
        j04_region_rollup,
        J04_ORACLE,
        ("J4", "F6", "S6", "F5", "F26", "F27"),
        "broadcast dim chain + fallback-coalesce + country normalization",
    ),
    "j01_metrics_join": Q(
        j01_metrics_join,
        J01_ORACLE,
        ("J1",),
        "fact⨝dim broadcast join, revenue per brand",
    ),
    "j02_semi_anti": Q(
        j02_semi_anti,
        J02_ORACLE,
        ("J2", "J3", "J8", "P2"),
        "EXISTS + NOT EXISTS as tagged semi/anti join branches",
    ),
    "a17_order_banding": Q(
        a17_order_banding,
        A17_ORACLE,
        ("A17", "A16", "F22"),
        "threshold tier banding × HA state-machine census",
        folds=("r2: f22 (HA state-machine census)",),
    ),
    "a18_usage_pct": Q(
        a18_usage_pct, A18_ORACLE, ("A18", "F14", "F16", "A8"), "usage%% with clamp"
    ),
    "t01_staleness_gate": Q(
        t01_staleness_gate,
        T01_ORACLE,
        ("T1", "T2", "F12", "F13", "P13"),
        "staleness + modulo-cadence incremental gate",
    ),
}
