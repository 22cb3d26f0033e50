"""bench.py and tools/ab_check.py plumbing that runs without Spark: the
skip hook, the clean-window predicate, the published record's key set and
the A/B tool's name expansion."""

from __future__ import annotations

import bench


def test_ab_check_family_expansion():
    from tools.ab_check import expand_names

    cat = ["dedup_semantic", "dedup_survivors", "txt_bpe", "q18_large_orders"]
    assert expand_names(cat, [], ["dedup"]) == [
        "dedup_semantic",
        "dedup_survivors",
    ]
    # positional first, family de-duplicates against it
    assert expand_names(cat, ["dedup_survivors"], ["dedup"]) == [
        "dedup_survivors",
        "dedup_semantic",
    ]
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        expand_names(cat, [], ["nope"])
    with _pytest.raises(SystemExit):
        expand_names(cat, [], [])
    with _pytest.raises(SystemExit):
        expand_names(cat, ["unknown_query"], [])


def test_bench_skip_env(monkeypatch):
    """SPARK_GRAFT_BENCH_SKIP drops named queries (unknown names ignored)
    and the selection is what the JSON publishes as `skipped`."""
    cat = {"a": 1, "b": 2, "c": 3}
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SKIP", raising=False)
    assert bench.skip_list(cat) == []
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SKIP", "c,nope,a,")
    assert bench.skip_list(cat) == ["a", "c"]


def test_gate_satisfied_is_budgetless_gate_predicate():
    """gate_satisfied reports whether the clean-window CONDITIONS were met:
    median per-pass sentinel inside the band, or two clean passes."""
    sat = bench.clean_window
    assert sat([])  # zero-pass smoke: nothing to judge
    assert sat([0.7, 0.71, 1.4])  # two clean passes
    assert sat([0.74, 0.74, 0.9])  # median inside the band
    assert not sat([1.0, 1.1, 0.9, 1.2])  # uniformly hot
    assert not sat([0.7, 1.1, 1.2, 1.3])  # ONE clean pass is not enough


def test_bench_record_key_set():
    """The published JSON carries exactly these keys at every sf; the bar
    keys are filled at sf0.1 only, and runs == len(sentinel_per_pass)."""
    keys = {
        "metric", "value", "unit", "queries", "sf", "master",
        "default_parallelism", "cpus_env", "first_pass_queries",
        "sentinel_sec", "sentinel_per_pass", "runs", "gate_satisfied",
        "bar_seconds", "headroom_seconds", "skipped",
    }

    def record(sf):
        return bench.bench_record(
            {"a": 1.0, "b": 2.5}, {"a": 3.0, "b": 2.5}, 0.7, [0.8, 1.0],
            sf, "local[4]", 4, "4", [],
        )

    small, bar = record(0.001), record(0.1)
    assert set(small) == keys and set(bar) == keys
    assert small["value"] == 3.5 and small["runs"] == 2
    assert small["bar_seconds"] is None and small["headroom_seconds"] is None
    assert small["gate_satisfied"] is False
    assert bar["bar_seconds"] == 50.7 and bar["headroom_seconds"] == 47.2
