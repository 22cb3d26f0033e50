"""stage_checkpoint (r14, VERDICT r13 #9): the eager staged checkpoints
inside catalog query builders must not accrue storage across repeated
invocations — each vehicle key holds at most ONE checkpointed relation,
and re-invoking a vehicle releases the previous one's blocks."""

from __future__ import annotations

from vmware_sd_wan_velocloud_bi_intake_spark.queries.base import (
    _STAGED_CHECKPOINTS,
    stage_checkpoint,
    stage_checkpoints_concurrent,
)


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_stage_checkpoint_bounds_storage_per_key(spark):
    base = _n_cached(spark)
    df1 = stage_checkpoint(spark.range(100), "t_sck_key")
    assert df1.count() == 100
    assert _n_cached(spark) == base + 1
    # second invocation under the SAME key: the previous checkpoint's
    # blocks are released — storage stays bounded at one per key
    df2 = stage_checkpoint(spark.range(200), "t_sck_key")
    assert df2.count() == 200
    assert _n_cached(spark) == base + 1
    # a different key is a different slot
    df3 = stage_checkpoint(spark.range(300), "t_sck_other")
    assert df3.count() == 300
    assert _n_cached(spark) == base + 2
    # cleanup so later storage-sensitive tests see a clean slate
    for k in ("t_sck_key", "t_sck_other"):
        prev = _STAGED_CHECKPOINTS.pop(k)
        prev._jdf.queryExecution().analyzed().rdd().unpersist(False)


def test_vehicle_reinvocation_releases_prior_checkpoint(spark, sf_smoke):
    from vmware_sd_wan_velocloud_bi_intake_spark.queries import textvec

    out1 = textvec.txt_quality_clf(spark, sf_smoke)
    n1 = out1.count()
    cached_after_first = _n_cached(spark)
    out2 = textvec.txt_quality_clf(spark, sf_smoke)
    assert out2.count() == n1
    # the rebuild staged a fresh checkpoint AND released the prior one
    assert _n_cached(spark) == cached_after_first


def test_stage_checkpoints_concurrent_empty_list():
    # nothing to stage is not an error (a 0-worker pool would raise)
    assert stage_checkpoints_concurrent([]) == []
