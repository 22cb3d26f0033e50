"""JDBC upsert sink tests (sinks/jdbc.py).

sqlite3 is the stand-in DBAPI driver (qmark paramstyle, ANSI ON CONFLICT),
so the full path — Spark partition iteration → multi-row statements →
commit — runs against a real SQL engine without a server.
"""

from __future__ import annotations

import sqlite3

import pandas as pd
import pytest

from vmware_sd_wan_velocloud_bi_intake_spark.sinks.jdbc import (
    build_upsert_sql,
    jdbc_upsert,
    jdbc_upsert_writer,
)


def test_build_upsert_sql_mysql():
    sql = build_upsert_sql("Edge", ["id", "name", "state"], ["id"], 2)
    assert sql == (
        "INSERT INTO `Edge` (`id`, `name`, `state`) VALUES (%s, %s, %s), (%s, %s, %s) "
        "ON DUPLICATE KEY UPDATE `name`=VALUES(`name`), `state`=VALUES(`state`)"
    )


def test_build_upsert_sql_ansi_and_keys_only():
    sql = build_upsert_sql("t", ["a", "b"], ["a"], 1, dialect="ansi", placeholder="?")
    assert sql == (
        'INSERT INTO "t" ("a", "b") VALUES (?, ?) '
        'ON CONFLICT ("a") DO UPDATE SET "b"=excluded."b"'
    )
    # degenerate: every column is a key -> no-op update arm
    sql2 = build_upsert_sql("t", ["a"], ["a"], 1, dialect="mysql")
    assert "ON DUPLICATE KEY UPDATE `a`=`a`" in sql2
    with pytest.raises(ValueError):
        build_upsert_sql("t", ["a"], ["a"], 1, dialect="oracle")


def test_build_upsert_sql_quotes_hostile_identifiers():
    # a column name with spaces / reserved words / quote chars must not
    # break out of the identifier position
    sql = build_upsert_sql("my table", ["id", 'evil"col', "select"], ["id"],
                           1, dialect="ansi", placeholder="?")
    assert '"my table"' in sql and '"evil""col"' in sql and '"select"' in sql
    sql_my = build_upsert_sql("t`x", ["id", "k`ey"], ["id"], 1)
    assert "`t``x`" in sql_my and "`k``ey`" in sql_my


def _connect(db_path: str):
    conn = sqlite3.connect(db_path, timeout=30)
    conn.execute("PRAGMA busy_timeout=30000")
    return conn


def test_jdbc_upsert_end_to_end(spark, tmp_path):
    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE edge (id INTEGER PRIMARY KEY, name TEXT, score INTEGER)")

    df1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, score long"
    ).repartition(2)
    jdbc_upsert(
        df1, "edge", ["id"],
        lambda: _connect(db),
        batch_size=2, dialect="ansi", placeholder="?",
    )
    # second batch: update 2, insert 4; include an intra-batch dup for id=4 —
    # the deterministic survivor (greatest non-key tuple) must win
    df2 = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40), (4, "a-low", 4)],
        "id long, name string, score long",
    ).repartition(2)
    jdbc_upsert(
        df2, "edge", ["id"],
        lambda: _connect(db),
        batch_size=2, dialect="ansi", placeholder="?",
    )

    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute("SELECT id, name, score FROM edge").fetchall())
    assert rows == [(1, "a", 10), (2, "b2", 21), (3, "c", 30), (4, "d", 40)]


def test_jdbc_upsert_is_idempotent_on_replay(spark, tmp_path):
    db = str(tmp_path / "replay.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    for _ in range(2):  # at-least-once delivery replays the same batch
        jdbc_upsert(df, "t", ["k"], lambda: _connect(db),
                    dialect="ansi", placeholder="?")
    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute("SELECT k, v FROM t").fetchall())
    assert rows == [(1, "x"), (2, "y")]


def test_streaming_foreachbatch_jdbc_upsert(spark, tmp_path):
    """parquet file stream -> foreachBatch -> JDBC upsert: one file per
    micro-batch, with primary keys that repeat inside a file and overlap
    across files, converges to exactly one row per distinct PK."""
    cols = ["month", "edge_uuid", "event_name", "n"]
    files = [
        [("2024-01", "e1", "up", 1), ("2024-01", "e2", "up", 1),
         ("2024-01", "e1", "up", 2)],
        [("2024-01", "e2", "up", 3), ("2024-01", "e3", "down", 1),
         ("2024-02", "e1", "up", 1)],
        [("2024-01", "e1", "up", 4), ("2024-02", "e1", "up", 5),
         ("2024-02", "e3", "down", 2)],
    ]
    src = tmp_path / "events_in"
    src.mkdir()
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=cols).to_parquet(
            src / f"f{i}.parquet", index=False
        )
    db = str(tmp_path / "stream.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE ev (month TEXT, edge_uuid TEXT, event_name TEXT,"
            " n INTEGER, PRIMARY KEY (month, edge_uuid, event_name))"
        )
    stream = (
        spark.readStream.schema(
            "month string, edge_uuid string, event_name string, n long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    upsert = jdbc_upsert_writer(
        "ev",
        ["month", "edge_uuid", "event_name"],
        lambda: _connect(db),
        dialect="ansi",
        placeholder="?",
    )
    batch_ids = []

    def write(batch_df, batch_id):
        batch_ids.append(batch_id)
        upsert(batch_df, batch_id)

    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not drain in time"
    finally:
        q.stop()
    assert batch_ids == list(range(len(files)))  # one file per micro-batch

    want = {(m, e, ev) for rows in files for m, e, ev, _ in rows}
    with sqlite3.connect(db) as conn:
        got = conn.execute(
            "SELECT month, edge_uuid, event_name FROM ev"
        ).fetchall()
    assert len(got) == len(want) and set(got) == want
