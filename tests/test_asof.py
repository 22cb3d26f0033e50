"""Unit tests for the as-of join operator (operators/asof.py).

Golden cases are hand-computed; the catalog-level j10 query is additionally
hash-checked against its DuckDB oracle in test_oracle_parity.py.
"""

from __future__ import annotations

import datetime as dt

from vmware_sd_wan_velocloud_bi_intake_spark.operators.asof import asof_join

TS = dt.datetime


def _collect(df):
    return {
        tuple(r[c] for c in ("event_id",)): r["val"]
        for r in df.collect()
    }


def test_asof_basic_backward_inclusive(spark):
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1), "a"),
            (1, TS(2024, 1, 10), "b"),
            (2, TS(2024, 1, 5), "c"),
        ],
        "key long, rts timestamp, val string",
    )
    left = spark.createDataFrame(
        [
            (100, 1, TS(2024, 1, 9)),   # between a and b -> a
            (101, 1, TS(2024, 1, 10)),  # exactly at b -> b (inclusive)
            (102, 1, TS(2023, 12, 31)), # before any -> null
            (103, 2, TS(2024, 2, 1)),   # after c -> c
            (104, 3, TS(2024, 2, 1)),   # key with no right rows -> null
        ],
        "event_id long, key long, lts timestamp",
    )
    out = asof_join(
        left, right, "key", "key", "lts", "rts", value_cols=["val"]
    )
    got = {r["event_id"]: r["val"] for r in out.collect()}
    assert got == {100: "a", 101: "b", 102: None, 103: "c", 104: None}
    assert out.count() == left.count()  # left-preserving


def test_asof_equal_timestamp_ties_pick_max_value_struct(spark):
    # two right rows at the identical timestamp: deterministic resolution
    # to the maximum value struct, independent of partitioning
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 7), (1, TS(2024, 1, 1), 9)],
        "key long, rts timestamp, ord long",
    )
    left = spark.createDataFrame(
        [(100, 1, TS(2024, 1, 2))], "event_id long, key long, lts timestamp"
    )
    for parts in (1, 8):
        out = asof_join(
            left.repartition(parts),
            right.repartition(parts),
            "key",
            "key",
            "lts",
            "rts",
            value_cols=["ord"],
        )
        assert [r["ord"] for r in out.collect()] == [9]


def test_asof_single_shuffle_plan(spark):
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1), "a")], "key long, rts timestamp, val string"
    )
    left = spark.createDataFrame(
        [(100, 1, TS(2024, 1, 2))], "event_id long, key long, lts timestamp"
    )
    out = asof_join(left, right, "key", "key", "lts", "rts", value_cols=["val"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the window partitioning; union is narrow
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


# -- property test: asof_join vs a direct per-key model ---------------------


def _model_asof(left_rows, right_rows):
    """Most recent right value at-or-before each left ts; max value on ties."""
    out = {}
    for eid, key, lts in left_rows:
        best = None
        for rkey, rts, val in right_rows:
            if rkey != key or rts > lts:
                continue
            if best is None or rts > best[0] or (rts == best[0] and val > best[1]):
                best = (rts, val)
        out[eid] = None if best is None else best[1]
    return out


def test_asof_matches_model(spark):
    """Randomized model check, BATCHED: 24 seeded random cases (keys 0–3,
    hours 0–20, values 0–9 — the former hypothesis strategy, more
    examples) ride ONE composite-key relation pair, so the whole sweep is
    one asof_join collect instead of a Spark action per example (r14
    suite re-tiering: 79 s → ~5 s, identical verification per case — keys are disjoint across cases, and the
    operator is per-key by construction, which the single-shuffle plan
    test above pins). The empty-right-RELATION edge keeps its own tiny
    action (a case with zero right rows only covers the unmatched-key
    path, not the empty-input plan)."""
    import random

    rng = random.Random(20240815)
    cases = []
    for case in range(24):
        left = [
            (rng.randint(0, 3), rng.randint(0, 20))
            for _ in range(rng.randint(1, 25))
        ]
        right = [
            (rng.randint(0, 3), rng.randint(0, 20), rng.randint(0, 9))
            for _ in range(rng.randint(0, 25))
        ]
        cases.append((case, left, right))
    left_rows, right_rows, expected = [], [], {}
    for case, left, right in cases:
        lr = [
            (case * 100 + i, case * 4 + key, TS(2024, 1, 1) + dt.timedelta(hours=h))
            for i, (key, h) in enumerate(left)
        ]
        rr = [
            (case * 4 + key, TS(2024, 1, 1) + dt.timedelta(hours=h), val)
            for key, h, val in right
        ]
        left_rows += lr
        right_rows += rr
        expected.update(_model_asof(lr, rr))
    ldf = spark.createDataFrame(
        left_rows, "event_id long, key long, lts timestamp"
    )
    rdf = spark.createDataFrame(right_rows, "key long, rts timestamp, val long")
    out = asof_join(ldf, rdf, "key", "key", "lts", "rts", value_cols=["val"])
    got = {r["event_id"]: r["val"] for r in out.collect()}
    assert got == expected
    # empty right relation: every left event must surface with a NULL val
    empty = spark.createDataFrame([], "key long, rts timestamp, val long")
    out_e = asof_join(
        ldf.limit(3), empty, "key", "key", "lts", "rts", value_cols=["val"]
    )
    assert [r["val"] for r in out_e.collect()] == [None, None, None]
