import json
import os
import subprocess
import sys

from perfbench import run, spread

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_the_declaration():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


def test_declared_workloads_are_runnable():
    names = [w["name"] for w in _bench()["workloads"]]
    args = run._args(["--workload", names[0], "--seed", "1", "--seconds", "1"])
    assert args.trace == 0
    assert set(names) == {"intake", "stream"}


def test_traced_ops_balance_cycle_positions():
    for m in (1, 2, 4):
        n = 2 * max(m, 2)
        traced = [run._traced(i, m) for i in range(n)]
        assert sum(traced) * 2 == n
        if m > 1:  # every position of the cycle runs traced and untraced
            for p in range(m):
                assert {traced[i] for i in range(p, n, m)} == {True, False}


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run fails and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "intake", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_seed_ranges():
    assert spread._seeds("101-104") == [101, 102, 103, 104]
    assert spread._seeds("3,1") == [3, 1]
    assert spread._seeds("7") == [7]
