"""vmware_sd_wan_velocloud_bi_intake_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference BI-intake pipeline
(vmware-archive/vmware-sd-wan-velocloud-bi-intake, read-only at /root/reference).

Layout
------
- ``session``    : SparkSession builder tuned for the harness (UTC, AQE).
- ``sources``    : table loaders + the JSON-RPC-style API source adapter.
- ``functions``  : scalar Column-expression library (SURVEY.md §2.8 F1–F28).
- ``operators``  : relational/dataflow operators (joins, aggregates, window/
                   sequence analytics, dedup, similarity, text analysis).
- ``sinks``      : idempotent key-deduped upsert writers (SURVEY.md §2.1 S9–S12).
- ``plans``      : end-to-end pipeline compositions (bronze → silver → gold).
- ``streaming``  : incremental/staleness semantics + Structured Streaming jobs
                   (SURVEY.md §2.9 T1–T7).
- ``queries``    : the query catalog exposed through ``__spark_entry__.py``.

Design rules (see SURVEY.md §7): DataFrame/SQL only — no RDDs; no ``collect()``
inside operators; built-in ``pyspark.sql.functions`` over Python UDFs; pandas
UDFs only where built-ins cannot express the semantics; every operator designed
for partition-parallel execution at 100 TB (broadcast small dims, pre-aggregate
before shuffles, AQE skew handling).
"""

__version__ = "0.1.0"
