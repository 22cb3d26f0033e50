"""Fleet-config source (SURVEY.md §2.1 S5): the YAML orchestrator list.

The reference drives its fan-out from a YAML file of VCO endpoints
(``powerbi_main_script.py:68-69``, ``DataFiles/vco_list.yml``). Here the
config is a tiny driver-side read that becomes the partitioned endpoint
DataFrame feeding :func:`..sources.api.fetch_payloads` — the list is the
unit of source parallelism (T6), so it is materialized as one row per
endpoint and repartitioned across the cluster, never broadcast as closure
state.

No caller yet: ``run_pipeline`` takes its endpoint list as an argument;
this is the reference's ``DataFiles/vco_list.yml`` reader for an entry
point that starts from the file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

VCO_SCHEMA = T.StructType(
    [
        T.StructField("vco", T.StringType(), False),
        T.StructField("link", T.StringType(), True),
        T.StructField("partner", T.StringType(), True),
    ]
)


def parse_fleet_config(text: str) -> list[dict]:
    """Parse the fleet YAML into endpoint dicts.

    Accepts both shapes the reference tolerates: a mapping of
    ``name -> {link, partner}`` and a plain list of names.
    """
    import yaml

    data = yaml.safe_load(text) or {}
    rows: list[dict] = []
    if isinstance(data, dict):
        for name, val in data.items():
            val = val if isinstance(val, dict) else {}
            rows.append(
                {
                    "vco": str(name),
                    "link": val.get("link"),
                    "partner": val.get("partner"),
                }
            )
    else:
        rows = [{"vco": str(v), "link": None, "partner": None} for v in data]
    return sorted(rows, key=lambda r: r["vco"])


def load_fleet(spark: SparkSession, path: str) -> DataFrame:
    """Read the fleet YAML into the endpoint DataFrame (one row per VCO),
    spread across the cluster so each endpoint's fetch runs as its own task."""
    with open(path, encoding="utf-8") as fh:
        rows = parse_fleet_config(fh.read())
    n = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(rows, VCO_SCHEMA).repartition(n)
