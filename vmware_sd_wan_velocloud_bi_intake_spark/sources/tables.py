"""Parquet table loaders for the harness fixture tables.

The driver materializes deterministic TPC-H-ish tables (TESTDATA.md) under
``/root/testdata/sf{0.001,0.01,0.1}``. These loaders are the engine's "bronze"
scan layer: plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning, and partition pruning for free (SURVEY.md §4 — the reference
hand-rolls these as API-side ``with:``/``interval:`` parameters; under Spark
they are native scan capabilities).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Parquet scans parallelize at row-group granularity, and the fixture files
# are written as a SINGLE row group each — so everything Catalyst fuses into
# the scan stage (shingling, per-row hashing, array folds) serializes into
# one task. ``spread=True`` inserts one round-robin repartition after the
# scan for exactly those compute-before-first-shuffle operators, and ONLY
# when the file is small; above the threshold it never fires, so a 100 TB
# corpus (thousands of row groups, natural scan parallelism) is never
# reshuffled just to gain parallelism. Queries whose first operation is
# already a shuffle (groupBy/window) must NOT spread — they gain nothing
# and pay an extra sort + exchange (measured 2-8× slowdowns).
SPREAD_MAX_BYTES = 256 * 1024 * 1024


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-zoned TIMESTAMP.

    The driver's ``events.parquet`` fixture has shipped THREE physical
    encodings across rounds, and a foreign harness session can surface any of
    them depending on its parquet confs:

    - ``bigint`` epoch-nanos (TIMESTAMP(NANOS) read under
      ``spark.sql.legacy.parquet.nanosAsLong``) → ``timestamp_micros(ns/1000)``
      (exact — fixtures carry at most microsecond precision);
    - ``timestamp_ntz`` (plain ``timestamp[us]`` under Spark 4's
      ``parquet.inferTimestampNTZ``) → NTZ ``timestampdiff`` from the NTZ
      epoch, then ``timestamp_micros``: the fixture wall-clock is UTC, and
      NTZ-to-NTZ arithmetic never consults ``spark.sql.session.timeZone``,
      so the epoch is pinned even in a foreign session running a non-UTC
      zone (where a bare ``cast("timestamp")`` — or ``to_utc_timestamp``,
      which casts through the session zone first — would shift it relative
      to the bigint-nanos path for the same fixture);
    - ``timestamp`` → already normalized, pass through.

    Dispatch is dtype-driven so the same call is safe on all three.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(
            col,
            F.timestamp_micros(
                F.expr(
                    f"timestampdiff(MICROSECOND, "
                    f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
                )
            ),
        )
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one fixture table. Columnar scan; filters/projections push down.

    ``events.ts`` arrives in one of three physical encodings (see
    :func:`normalize_event_ts`); both parquet confs below are runtime-settable,
    so harden here for sessions not built by ``session.get_spark`` (e.g. a
    driver harness session) instead of relying on builder-time config.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        for conf, value in (
            # TIMESTAMP(NANOS) fixtures: vectorized reader rejects them
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            # timestamp[us] fixtures: keep them TIMESTAMP, not TIMESTAMP_NTZ
            ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ):
            try:
                spark.conf.set(conf, value)
            except Exception:
                pass  # conf locked (e.g. marked static) — builder value applies
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    if spread:
        try:
            small = os.path.getsize(path) <= SPREAD_MAX_BYTES
        except OSError:
            small = False
        if small:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every fixture table into a dict keyed by table name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views for ``spark.sql``."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
