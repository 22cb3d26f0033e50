"""SparkSession factory for the engine.

Local-mode defaults mirror what a production cluster submit would set per-job:
UTC session timezone (oracle comparability), AQE with partition coalescing and
skew-join handling, Arrow for pandas interchange, and shuffle partitions sized
to the machine rather than Spark's default 200.

At 100 TB on a real cluster the same builder is used with
``master`` / ``spark.sql.shuffle.partitions`` / memory knobs supplied by the
submitter; nothing in the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Repo root (parent of this package): Python workers unpickle UDF closures
# that reference package symbols, so the package must be importable on every
# worker regardless of the driver's cwd.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> str:
    current = os.environ.get("PYTHONPATH", "")
    parts = [p for p in current.split(os.pathsep) if p]
    if _PKG_ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PKG_ROOT, *parts])
    return os.environ["PYTHONPATH"]


def get_spark(
    app_name: str = "vmware_sd_wan_velocloud_bi_intake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters mirror spark-submit conf; tests and bench pass nothing and get
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    pythonpath = _export_pythonpath()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # the fixture events table stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the loader (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
