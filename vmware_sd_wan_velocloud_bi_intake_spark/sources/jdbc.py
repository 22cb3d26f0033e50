"""JDBC snapshot source — the read-side mirror of :mod:`sinks.jdbc`.

The reference keeps its incremental state (staleness timestamps, EAV
attribute rows) in MySQL and reads it with per-entity point queries
(``fun_mysql_query.py:17-184``). The set-oriented restatement is ONE
partitioned snapshot read feeding the staleness/backfill joins
(:mod:`streaming.incremental`) — N point lookups become one scan whose
partitions run in parallel with their WHERE clauses evaluated server-side
(predicate pushdown at the database).

Two transports behind one calling convention:

- **Production** (``url=...``): ``spark.read.jdbc`` with either explicit
  ``predicates`` (one partition per WHERE clause) or
  ``partition_column/lower/upper/num_partitions`` stride partitioning —
  Spark's built-in JDBC source handles type mapping, pushdown, and
  fetch-size batching.
- **Hermetic / injected** (``connection_factory=...``): the same
  partitioning contract over a DBAPI 2.0 driver — one connection per
  partition opened ON THE EXECUTOR, one ``SELECT <cols> FROM t WHERE
  <partition predicate>`` each, rows yielded straight into the declared
  schema. This is how tests drive the full path against sqlite without a
  JDBC jar, and how a deployment could read any DBAPI-only store.

Both paths push the per-partition predicate to the database: the engine
never transports rows a partition clause excludes.

No caller yet: the intake lands parquet, not MySQL; this restates the
reference's state reads (``fun_mysql_query.py``) for a database-backed
deployment.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sinks.jdbc import quote_ident


def stride_predicates(
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    dialect: str = "ansi",
) -> list[str]:
    """Spark-compatible stride WHERE clauses over an integral column.

    First partition is unbounded below, last unbounded above (rows outside
    [lower, upper) still land in a partition — the bounds shape the split,
    they are NOT a filter; same contract as ``spark.read.jdbc``).
    """
    if num_partitions <= 1:
        return ["1=1"]
    col = quote_ident(partition_column, dialect)
    stride = max(1, (upper_bound - lower_bound) // num_partitions)
    preds = []
    lo = lower_bound
    for i in range(num_partitions):
        hi = lo + stride
        if i == 0:
            preds.append(f"{col} < {hi}")
        elif i == num_partitions - 1:
            preds.append(f"{col} >= {lo}")
        else:
            preds.append(f"{col} >= {lo} AND {col} < {hi}")
        lo = hi
    return preds


def _dbapi_coercer(dt: T.DataType):
    """Per-field cast for the injected DBAPI path — mirrors the production
    path's select+cast so the declared schema coerces rather than validates
    (DBAPI drivers return whatever the database stored: sqlite hands back
    ints for REAL columns holding whole numbers, floats for INTEGER
    affinity overflow, etc.)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return lambda v: None if v is None else int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return lambda v: None if v is None else float(v)
    if isinstance(dt, T.StringType):
        return lambda v: None if v is None else str(v)
    if isinstance(dt, T.BooleanType):
        return lambda v: None if v is None else bool(v)
    if isinstance(dt, T.DecimalType):
        from decimal import Decimal

        return lambda v: (
            None if v is None else v if isinstance(v, Decimal) else Decimal(str(v))
        )
    return lambda v: v  # temporal/binary/complex: pass through to the verifier


def jdbc_snapshot(
    spark: SparkSession,
    table: str,
    schema: str | T.StructType,
    *,
    url: str | None = None,
    properties: dict | None = None,
    connection_factory: Callable[[], object] | None = None,
    predicates: Sequence[str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 4,
    where: str | None = None,
    dialect: str = "ansi",
) -> DataFrame:
    """Partitioned snapshot of a JDBC/DBAPI table as a DataFrame.

    ``where`` is an extra pushed predicate ANDed into every partition (the
    analog of the reference's per-query filters — e.g. restrict the state
    snapshot to one VCO before it ever leaves the database).

    ``schema`` is authoritative on BOTH paths: the production read coerces
    the database-inferred columns to the declared types (select + cast), and
    the injected path applies the equivalent per-field coercion to the raw
    DBAPI values before ``createDataFrame`` (whose verifier would otherwise
    RAISE on e.g. a REAL column declared long), so switching between the
    JDBC and DBAPI transports never changes downstream dtypes. Set ``dialect='mysql'`` against MySQL — the default ANSI
    double-quoted identifiers in stride predicates would otherwise parse as
    string literals there (backticks are required unless ANSI_QUOTES is on).
    """
    struct = (
        T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    if predicates is None:
        if partition_column is not None:
            if lower_bound is None or upper_bound is None:
                raise ValueError("partition_column requires lower/upper bounds")
            predicates = stride_predicates(
                partition_column, lower_bound, upper_bound, num_partitions, dialect
            )
        else:
            predicates = ["1=1"]
    if where:
        predicates = [f"({p}) AND ({where})" for p in predicates]

    if connection_factory is None:
        if url is None:
            raise ValueError("need url (production) or connection_factory (injected)")
        from pyspark.sql import functions as SF

        raw = spark.read.jdbc(
            url=url, table=table, predicates=list(predicates),
            properties=properties or {},
        )
        return raw.select(
            *[SF.col(f.name).cast(f.dataType) for f in struct.fields]
        )

    cols = [f.name for f in struct.fields]
    col_list = ", ".join(quote_ident(c, dialect) for c in cols)
    tbl = quote_ident(table, dialect)
    factory = connection_factory
    coercers = [_dbapi_coercer(f.dataType) for f in struct.fields]

    def read_partition(preds_iter):
        for pred in preds_iter:
            conn = factory()
            try:
                cur = conn.cursor()
                cur.execute(f"SELECT {col_list} FROM {tbl} WHERE {pred}")
                while True:
                    rows = cur.fetchmany(1000)
                    if not rows:
                        break
                    for r in rows:
                        yield tuple(c(v) for c, v in zip(coercers, r))
            finally:
                conn.close()

    rdd = spark.sparkContext.parallelize(list(predicates), len(predicates))
    return spark.createDataFrame(rdd.mapPartitions(read_partition), struct)
