"""Scoped conf management + the loop-parallelism rule (functions/conf.py).

The rule under test: driver-iterated trainers size their loop's shuffle
partitioning to the relation in flight, and their RESULTS are
partitioning-invariant — auto-sized, explicit, and legacy (None = keep
upstream partitioning) paths must produce identical models.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vmware_sd_wan_velocloud_bi_intake_spark.functions.conf import (
    LOOP_ROWS_PER_PARTITION,
    iterative_loop_confs,
    loop_partition_count,
    scoped_confs,
    sized_partition_count,
)
from vmware_sd_wan_velocloud_bi_intake_spark.operators import bpe, classifier
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table


def test_loop_partition_count_bounds():
    # tiny relations collapse to one partition
    assert loop_partition_count(31, 32) == 1
    assert loop_partition_count(0, 32) == 1
    # exactly one partition's worth stays at one
    assert loop_partition_count(LOOP_ROWS_PER_PARTITION, 32) == 1
    # one row over spills into a second
    assert loop_partition_count(LOOP_ROWS_PER_PARTITION + 1, 32) == 2
    # shrink-only: never exceeds what the relation already has
    assert loop_partition_count(10**9, 32) == 32
    assert loop_partition_count(10**9, 4) == 4


def test_sized_partition_count_floors_the_rows_rule_at_bytes(spark):
    """Wide rows get the partitions their bytes need at the session's
    advisory partition size; narrow rows keep the rows rule; both stay
    at most the session's shuffle partitions (8 in the test session)."""
    with scoped_confs(
        spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m"}
    ):
        assert sized_partition_count(spark, 200, 0) == 1
        assert sized_partition_count(spark, 200, 1 << 20) == 1
        assert sized_partition_count(spark, 200, (1 << 20) + 1) == 2
        assert sized_partition_count(spark, 200, 5 << 20) == 5
        assert sized_partition_count(spark, 200, 1 << 40) == 8
        # the rows rule still applies when the bytes are small
        assert sized_partition_count(spark, 3 * LOOP_ROWS_PER_PARTITION, 0) == 3


def test_scoped_confs_restores_set_and_unset_keys(spark):
    key_set = "spark.sql.shuffle.partitions"  # always set by session.py
    key_unset = "spark.graft.test.ephemeral"  # never set outside this test
    prior = spark.conf.get(key_set)
    with pytest.raises(Exception):
        spark.conf.get(key_unset)
    with scoped_confs(spark, {key_set: "3", key_unset: "yes"}):
        assert spark.conf.get(key_set) == "3"
        assert spark.conf.get(key_unset) == "yes"
    assert spark.conf.get(key_set) == prior
    # the previously-unset key must be UNSET again, not pinned to a value
    with pytest.raises(Exception):
        spark.conf.get(key_unset)


def test_scoped_confs_restores_on_exception(spark):
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(RuntimeError):
        with iterative_loop_confs(spark, 2):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior


def test_train_bpe_partitioning_invariant(spark, sf_smoke):
    """auto / explicit / legacy loop sizing produce the identical merge
    table — merge selection is exact integer arithmetic with a
    total-order tie-break, so parallelism is a pure cost knob."""
    docs = load_table(spark, sf_smoke, "documents")
    out = {}
    for mode in ("auto", 2, None):
        rows = (
            bpe.train_bpe(
                docs,
                num_merges=6,
                min_count=2,
                loop_partitions=mode,
                small_vocab_cap=0,  # loop sizing exists only distributed
            )
            .orderBy("rank")
            .collect()
        )
        out[str(mode)] = [tuple(r) for r in rows]
    assert out["auto"] == out["2"] == out["None"]
    assert len(out["auto"]) == 6


def test_train_logreg_partitioning_invariant(spark, sf_smoke):
    """The rounding quantum absorbs accumulation-order differences: the
    trained weights match bit-for-bit across loop sizings (the same
    contract that makes the trainer engine-replayable)."""
    docs = load_table(spark, sf_smoke, "documents")
    feat = docs.select(
        classifier.text_features(F.col("text")).alias("features"),
        (F.col("source") == "src0").cast("int").alias("label"),
    )
    models = [
        classifier.train_logreg(
            feat, iters=6, lr=2.0, loop_partitions=mode, small_n_cap=0
        )
        for mode in ("auto", 3, None)
    ]
    assert models[0] == models[1] == models[2]


def test_loop_confs_survive_a_session_that_never_set_aqe(spark):
    """A driver-owned session may never have set AQE explicitly. SQL
    confs WITH engine defaults (AQE) read as their default when unset —
    so get/restore pins an EQUIVALENT value and the effective conf is
    unchanged; keys WITHOUT defaults take the unset-restore path
    (covered above). Either way the scope must not crash and must leave
    the effective value as it found it."""
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        effective = spark.conf.get(key)  # the engine default
        with iterative_loop_confs(spark, 2):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == effective
    finally:
        spark.conf.set(key, prior)


def test_trainer_loops_restore_session_confs(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    prior_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # force the distributed loops (cap=0): the conf scopes under test
    # only open on that arm
    bpe.train_bpe(docs, num_merges=2, min_count=2, small_vocab_cap=0)
    feat = docs.select(
        classifier.text_features(F.col("text")).alias("features"),
        (F.col("source") == "src0").cast("int").alias("label"),
    )
    classifier.train_logreg(feat, iters=2, lr=2.0, small_n_cap=0)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior_sp
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior_aqe


def test_scoped_confs_rolls_back_on_setup_failure():
    """r10 ADVICE: if a LATER key fails to set (e.g. non-runtime-settable),
    the keys already overridden must be restored — the partial override
    must not leak into the caller's session."""

    class _Conf:
        def __init__(self):
            self.values = {"a": "1"}

        def get(self, k):
            if k in self.values:
                return self.values[k]
            raise KeyError(k)

        def set(self, k, v):
            if k == "boom":
                raise RuntimeError("not runtime-settable")
            self.values[k] = v

        def unset(self, k):
            self.values.pop(k, None)

    class _Spark:
        conf = _Conf()

    fake = _Spark()
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        with scoped_confs(fake, {"a": "2", "b": "x", "boom": "y"}):
            raise AssertionError("body must not run on setup failure")
    # 'a' restored to its prior value, 'b' unset again (was never set)
    assert fake.conf.values == {"a": "1"}
