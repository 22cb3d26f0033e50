"""JDBC upsert sink — the production form of S9–S11.

The reference's dominant sink is ``INSERT … ON DUPLICATE KEY UPDATE`` /
``INSERT IGNORE`` issued one statement per VALUE with a commit per statement
(``fun_mysql_inserts.py:16-374``, commit at ``:371-373``). The set-oriented
restatement:

- one deterministic survivor per PK (same discipline as
  :mod:`sinks.upsert`) BEFORE anything touches the database,
- per-partition DBAPI connections writing executemany batches — N executors
  stream in parallel, the analog of the reference's per-thread connections
  (``powerbi_main_fun.py:99-102``) without its global commit serialization,
- multi-row VALUES upserts: one statement per ``batch_size`` rows instead of
  one per value — the 100 TB difference between O(rows/batch) and O(rows ×
  columns) round-trips.

No database ships in this environment, so the connection is injected as a
``connection_factory`` (DBAPI 2.0). Tests drive the full path with a fake
in-memory DBAPI; production passes ``lambda: mysql.connector.connect(...)``.
Used from batch code directly or as ``df.writeStream.foreachBatch(
jdbc_upsert_writer(...))`` for streaming upserts.

No caller yet: the intake lands parquet (:mod:`sinks.upsert`); this
restates the reference's MySQL sink (``fun_mysql_inserts.py``) for a
database-backed deployment.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from .upsert import _dedup_by_keys


def quote_ident(name: str, dialect: str = "mysql") -> str:
    """Quote a SQL identifier per dialect (backticks for mysql, double
    quotes for ansi), doubling any embedded quote character.

    Identifiers come from ``df.columns`` / caller table names — data, not
    SQL — so they must never be interpolated raw: a column named with a
    space, reserved word, or quote character would otherwise produce broken
    or injectable statements at the sink.
    """
    if dialect == "mysql":
        return "`" + name.replace("`", "``") + "`"
    return '"' + name.replace('"', '""') + '"'


def build_upsert_sql(
    table: str,
    columns: Sequence[str],
    keys: Sequence[str],
    n_rows: int,
    dialect: str = "mysql",
    placeholder: str = "%s",
) -> str:
    """Multi-row idempotent upsert statement.

    mysql   → INSERT … VALUES (…),(…) ON DUPLICATE KEY UPDATE col=VALUES(col)
    ansi    → INSERT … ON CONFLICT (pk) DO UPDATE SET col=excluded.col
    (mirrors the reference's statement shape at fun_mysql_inserts.py:31-47,
    generalized from 1 row to n_rows; ``placeholder`` follows the driver's
    paramstyle — %s for mysql/postgres, ? for qmark drivers; all identifiers
    are dialect-quoted)
    """
    if dialect not in ("mysql", "ansi"):
        raise ValueError(f"unknown dialect: {dialect}")
    q = lambda n: quote_ident(n, dialect)
    tbl = q(table)
    col_list = ", ".join(q(c) for c in columns)
    row = "(" + ", ".join([placeholder] * len(columns)) + ")"
    values = ", ".join([row] * n_rows)
    non_keys = [c for c in columns if c not in keys]
    if dialect == "mysql":
        updates = ", ".join(f"{q(c)}=VALUES({q(c)})" for c in non_keys) or ", ".join(
            f"{q(k)}={q(k)}" for k in keys
        )
        return f"INSERT INTO {tbl} ({col_list}) VALUES {values} ON DUPLICATE KEY UPDATE {updates}"
    conflict = ", ".join(q(k) for k in keys)
    updates = ", ".join(f"{q(c)}=excluded.{q(c)}" for c in non_keys) or f"{q(keys[0])}={q(keys[0])}"
    return (
        f"INSERT INTO {tbl} ({col_list}) VALUES {values} "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def jdbc_upsert(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    connection_factory: Callable[[], object],
    batch_size: int = 500,
    dialect: str = "mysql",
    placeholder: str = "%s",
) -> None:
    """Upsert ``df`` into ``table``: one connection + one commit per
    partition, multi-row statements of ``batch_size`` rows.

    The PK-survivor dedup runs in Spark first, so the database never
    arbitrates between two rows of the same batch (which would make the
    result depend on statement order — the reference's hidden assumption).
    """
    deduped = _dedup_by_keys(df, keys)
    columns = list(deduped.columns)
    keys = list(keys)
    bsz = int(batch_size)
    dialect_ = dialect
    table_ = table
    ph = placeholder

    def write_partition(rows) -> None:
        conn = connection_factory()
        try:
            cur = conn.cursor()
            buf: list[tuple] = []
            for r in rows:
                buf.append(tuple(r[c] for c in columns))
                if len(buf) >= bsz:
                    cur.execute(
                        build_upsert_sql(table_, columns, keys, len(buf), dialect_, ph),
                        [v for row in buf for v in row],
                    )
                    buf.clear()
            if buf:
                cur.execute(
                    build_upsert_sql(table_, columns, keys, len(buf), dialect_, ph),
                    [v for row in buf for v in row],
                )
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    deduped.foreachPartition(write_partition)


def jdbc_upsert_writer(
    table: str,
    keys: Sequence[str],
    connection_factory: Callable[[], object],
    batch_size: int = 500,
    dialect: str = "mysql",
    placeholder: str = "%s",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` adapter: streaming micro-batches become idempotent
    upserts, so replayed batches (at-least-once delivery) converge to the
    same table state — exactly-once effect via PK idempotency (T4)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_upsert(batch_df, table, keys, connection_factory, batch_size, dialect, placeholder)

    return write
