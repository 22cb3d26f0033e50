"""Run one workload over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload stream --seeds 101-110 --seconds 18

Runs ``perfbench/run.py`` once per seed, one after the other, and prints per
run its end-to-end metrics and wall time, then per metric the median and the
distance between the first and third quartile as a share of the median.
That share is what the benchmark's bounds are judged against.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in spec.split(",")]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,5,9")
    p.add_argument("--seconds", default="18")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.stats import median, quartiles, relative_iqr

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", flush=True)
            return 1
        result = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        print(json.dumps({"seed": seed, "wall_s": round(time.perf_counter() - t, 1),
                          "correct": result["correct"], "failed": result["failed"],
                          "attempted": result["attempted"], **metrics}), flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    for k, v in values.items():
        q1, _, q3 = quartiles(v)
        print(json.dumps({"metric": k, "runs": len(v), "median": median(v),
                          "q1": q1, "q3": q3, "iqr_share": relative_iqr(v)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
