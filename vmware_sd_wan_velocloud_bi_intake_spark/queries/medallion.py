"""Medallion-pipeline catalog queries over the frozen bronze fixture.

The §3.1 end-to-end DAG (plans/velocloud.py: bronze API ingest → silver
flatten/explode → gold rollup) was round-1-verified only by hermetic unit
tests. These entries put the silver/gold TRANSFORMS themselves under the
driver's hash-checked correctness gate: the bronze layer is frozen once to
``fixtures/bronze/*.parquet`` (tools/freeze_bronze.py, deterministic fake
transport), and each query applies the exact production transform functions
to that fixture while the oracle re-derives the semantics in DuckDB over the
same files (nested struct access + unnest + list_filter).

``sf_dir`` is ignored by design — the medallion input is the pipeline's own
bronze, not the TPC-H-shaped testdata.

Reference lineage: silver_links mirrors connectedEdgeList explode →
gatewayrelation (gateway_script.py:305-322) and LinkID concat
(powerbi_main_fun.py:1629) — the J6/F21 operators on their native nested
input; gold_customer_rollup mirrors process_attributes_full_customer
(powerbi_main_fun.py:281-352) — A6 as one groupBy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.velocloud import gold_customer_rollup, silver_edges, silver_links
from .base import Q

_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "bronze",
)
_EDGES = os.path.join(_FIXTURES, "edges.parquet")
_ENTERPRISES = os.path.join(_FIXTURES, "enterprises.parquet")


def med_silver_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    bronze = spark.read.parquet(_EDGES)
    return silver_links(bronze)


MED_SILVER_LINKS_ORACLE = f"""
WITH exploded AS (
  SELECT vco, enterprise_id, edge, unnest(edge."recentLinks") AS l
  FROM read_parquet('{_EDGES}')
  WHERE edge."logicalId" IS NOT NULL
)
SELECT vco, enterprise_id,
       edge."logicalId" AS edge_uuid,
       edge."logicalId" || '-' || l."internalId" AS link_id,
       l."internalId" AS link_uuid,
       l."networkType" AS network_type,
       l."backupState" AS backup_state,
       l."bytesRx" AS bytes_rx,
       l."bytesTx" AS bytes_tx,
       l."scoreRx" + l."scoreTx" AS score_sum
FROM exploded
"""


def med_gold_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    bronze = spark.read.parquet(_EDGES)
    enterprises = spark.read.parquet(_ENTERPRISES)
    gold = gold_customer_rollup(enterprises, silver_edges(bronze))
    return gold.select(
        "vco",
        "enterprise_id",
        "customer_uuid",
        "customer_name",
        "n_connected_edges",
        "any_wireless",
        "any_backup",
        "any_active_license",
        "max_links_per_edge",
    )


MED_GOLD_ORACLE = f"""
WITH silver AS (
  SELECT vco, enterprise_id,
         edge."edgeState" AS edge_state,
         len(coalesce(edge."recentLinks", [])) AS n_links,
         len(list_filter(coalesce(edge."recentLinks", []),
             l -> l."networkType" = 'WIRELESS')) AS n_wireless,
         len(list_filter(coalesce(edge."recentLinks", []),
             l -> l."backupState" <> 'UNCONFIGURED')) AS n_backup,
         CAST(len(list_filter(coalesce(edge."licenses", []),
             lic -> lic."active")) > 0 AS INT) AS has_active_license
  FROM read_parquet('{_EDGES}')
  WHERE edge."logicalId" IS NOT NULL AND edge."logicalId" <> ''
), per_customer AS (
  SELECT vco, enterprise_id,
         COUNT(*) AS n_connected_edges,
         MAX(CASE WHEN n_wireless > 0 THEN 1 ELSE 0 END) AS any_wireless,
         MAX(CASE WHEN n_backup > 0 THEN 1 ELSE 0 END) AS any_backup,
         MAX(has_active_license) AS any_active_license,
         MAX(n_links) AS max_links_per_edge
  FROM silver
  WHERE edge_state = 'CONNECTED'
  GROUP BY vco, enterprise_id
)
SELECT e.vco, e.enterprise_id, e.customer_uuid, e.customer_name,
       COALESCE(p.n_connected_edges, 0) AS n_connected_edges,
       COALESCE(p.any_wireless, 0) AS any_wireless,
       COALESCE(p.any_backup, 0) AS any_backup,
       COALESCE(p.any_active_license, 0) AS any_active_license,
       COALESCE(p.max_links_per_edge, 0) AS max_links_per_edge
FROM read_parquet('{_ENTERPRISES}') e
LEFT JOIN per_customer p USING (vco, enterprise_id)
"""


QUERIES: dict[str, Q] = {
    "med_silver_links": Q(
        med_silver_links,
        MED_SILVER_LINKS_ORACLE,
        ("J6", "F21", "P3", "S1", "med:silver"),
        "medallion silver: nested bronze edge links explode -> relation",
    ),
    "med_gold_rollup": Q(
        med_gold_rollup,
        MED_GOLD_ORACLE,
        ("A6", "P4", "A5", "F23", "med:gold"),
        "medallion gold: customer rollup over silver edges (full DAG)",
    ),
}
