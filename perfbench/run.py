"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload intake --seed 1 --seconds 18 --trace 0

Each run is one fresh process and one closed-loop client: it starts a Spark
session, sets the workload up (inputs from ``--seed``, fixed warm-up ops),
then runs ops back to back until their summed wall time reaches
``--seconds``. Every op's output is checked outside the timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops, records spans around the calls into each layer,
tags Spark jobs with job groups, folds Spark's event log, and reports the
per-layer metrics. The last line of standard output is the result object;
the line before it carries the run's details (host, op walls, ratio bases).
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Noise controls, fixed for every run and recorded in its details line.
SPARK_CPUS = "4"
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_s_per_op": "s",
    "spark.shuffle_bytes_per_op": "bytes",
    "driver_residual_s_per_op": "s",
    "trace_overhead_s": "s",
    "sources.api_calls_per_op": "count",
    "sources.fetch_amplification": "ratio",
    "sources.fetch_s": "s",
    "plans.silver_s": "s",
    "plans.gold_s": "s",
    "sinks.upsert_s": "s",
    "sinks.insert_ignore_s": "s",
    "sinks.bytes_written_per_op": "bytes",
    "streaming.batch_early_s": "s",
    "streaming.batch_late_s": "s",
    "streaming.compact_batch_s": "s",
    "streaming.index_rows": "count",
    "streaming.survivor_ratio": "ratio",
    "operators.signature_s": "s",
    "operators.probe_s": "s",
    **{
        f"queries.{m}_s": "s"
        for m in ("relational", "events", "textvec", "nested", "scalars", "beyond", "tpch", "medallion")
    },
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.cold_pass_s": "s",
}


@dataclass
class Op:
    """One measured op of a run."""

    index: int
    id: str
    wall: float
    items: int
    traced: bool
    issues: list[str] = field(default_factory=list)
    # time the tracer spent on its own work inside the op
    trace_overhead: float = 0.0


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["intake", "stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _noise_controls(work_dir: str) -> dict[str, str]:
    env = {
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # keep Python's and the JVM's temp files inside the checkout
        "TMPDIR": os.path.join(work_dir, "tmp"),
    }
    os.environ.update(env)
    return env


def _jvm_conf(work_dir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _traced(i: int, m: int) -> bool:
    """Which ops of a traced run are traced: half of them, alternating.

    Ops come in cycles of ``m`` (positions differ in cost, e.g. the stream's
    compaction batch). Over two cycles every position runs once traced and
    once untraced, so the two medians compare like with like.
    """
    if m % 2:
        return i % 2 == 1
    return (i % m + i // m) % 2 == 1


def _job_totals(groups: dict, op_ids: list[str]):
    """Event-log totals of the job groups that belong to each op."""
    from .eventlog import GroupTotals

    out = {}
    for op in op_ids:
        t = GroupTotals()
        for g, v in groups.items():
            if g == op or g.startswith(op + "/"):
                t.jobs += v.jobs
                t.tasks += v.tasks
                t.executor_cpu_s += v.executor_cpu_s
                t.shuffle_write_bytes += v.shuffle_write_bytes
                t.job_intervals += v.job_intervals
        out[op] = t
    return out


def run(args, t0: float) -> tuple[dict, dict]:
    from . import eventlog
    from .stats import median, ratio
    from .trace import Tracer

    work_dir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".bench_results")
    env = _noise_controls(work_dir)  # before the session module reads them
    load_1m = os.getloadavg()[0]

    from vmware_sd_wan_velocloud_bi_intake_spark.session import get_spark

    from .intake import Intake
    from .stream import Stream

    os.makedirs(os.path.join(work_dir, "tmp"))
    os.makedirs(results_dir, exist_ok=True)

    log_dir = os.path.join(work_dir, "eventlog")
    conf = _jvm_conf(work_dir)
    if args.trace:
        conf.update(eventlog.config(log_dir))
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_start_s = time.perf_counter() - t0
        sc = spark.sparkContext
        host = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": os.cpu_count(),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "load_1m": load_1m,
            "env": env,
        }
        tracer = Tracer(sc, enabled=False)
        wl = {"intake": Intake, "stream": Stream}[args.workload](spark, args.seed, work_dir, tracer)
        wl.setup()
        if args.trace:
            wl.install_tracing()

        ops: list[Op] = []
        measured = 0.0
        setup_s = None
        i = 0
        while (
            measured < args.seconds
            or len(ops) % wl.ops_multiple
            or (args.trace and len(ops) < 2 * wl.ops_multiple)
        ):
            traced = bool(args.trace) and _traced(i, wl.ops_multiple)
            op_id = f"op{i}"
            wl.prepare(i)
            if traced:
                tracer.enabled = True
                wl.side_probes(op_id)
            if setup_s is None:
                setup_s = time.perf_counter() - t0
            overhead0 = tracer.overhead_s
            t = time.perf_counter()
            try:
                with tracer.span("op", group=op_id, op=op_id):
                    items = wl.op(i, op_id)
                issues = None
            except Exception:
                items, issues = 0, [traceback.format_exc(limit=3)]
            wall = time.perf_counter() - t
            tracer.enabled = False
            if issues is None:
                issues = wl.check(i)
            ops.append(Op(i, op_id, wall, items, traced, issues, tracer.overhead_s - overhead0))
            measured += wall
            i += 1

        final_issues, final_detail = wl.final_check()
        if args.trace:
            tracer.enabled = True
            try:
                extra_issues, extra_metrics, extra_bases = wl.traced_extras()
            except Exception:
                extra_issues, extra_metrics, extra_bases = [traceback.format_exc(limit=3)], {}, {}
            tracer.enabled = False
            final_issues += extra_issues
        failed_ops = [o for o in ops if o.issues or final_issues]
        walls = [o.wall for o in ops]
        ok_walls = [o.wall for o in ops if not o.issues]
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": host,
            "inputs": wl.describe(),
            "ops": len(ops),
            "op_walls_s": walls,
            "error_rate": {"failed": len(failed_ops), "attempted": len(ops)},
            "issues": [iss for o in ops for iss in o.issues] + final_issues,
            **final_detail,
        }
        if not args.trace:
            items = sum(o.items for o in ops if not o.issues)
            metrics = {
                "setup_s": (setup_s, END_TO_END["setup_s"]),
                "op_p50_s": (median(walls), END_TO_END["op_p50_s"]),
                "throughput_per_s": (
                    items / sum(ok_walls) if ok_walls else 0.0,
                    END_TO_END["throughput_per_s"],
                ),
            }
            details["bases"] = {
                "op_p50_s": {"ops": len(walls)},
                "throughput_per_s": ratio(items, sum(ok_walls)) if ok_walls else None,
            }
        else:
            wl.uninstall_tracing()
            traced_ops = [o for o in ops if o.traced]
            untraced = [o.wall for o in ops if not o.traced]
            _stop(spark)
            spark = None
            groups = eventlog.fold(log_dir)
            layer, bases = wl.layer_metrics(ops, groups)
            layer.update(extra_metrics)
            bases.update(extra_bases)
            totals = _job_totals(groups, [o.id for o in traced_ops])
            n = len(traced_ops)
            residual = [
                o.wall - eventlog.union_s([(a / 1e3, b / 1e3) for a, b in totals[o.id].job_intervals])
                for o in traced_ops
            ]
            metrics = {
                "session.start_s": (session_start_s, "s"),
                "spark.jobs_per_op": (sum(t.jobs for t in totals.values()) / n, "count"),
                "spark.tasks_per_op": (sum(t.tasks for t in totals.values()) / n, "count"),
                "spark.executor_cpu_s_per_op": (sum(t.executor_cpu_s for t in totals.values()) / n, "s"),
                "spark.shuffle_bytes_per_op": (
                    sum(t.shuffle_write_bytes for t in totals.values()) / n,
                    "bytes",
                ),
                "driver_residual_s_per_op": (sum(residual) / n, "s"),
                "trace_overhead_s": (sum(o.trace_overhead for o in traced_ops) / n, "s"),
                **layer,
            }
            # every traced run reports every per-layer metric; a layer this
            # workload never calls reads 0
            for name, unit in PER_LAYER.items():
                metrics.setdefault(name, (0.0, unit))
            bases["traced_ops"] = n
            bases["untraced_ops"] = len(untraced)
            # the wall-clock comparison, for reference: it carries the ops'
            # warm-up trend, which is seconds where the overhead is milliseconds
            bases["traced_minus_untraced_wall_s"] = median([o.wall for o in traced_ops]) - median(untraced)
            details["bases"] = bases
            tracer.dump(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        result = {
            "correct": not failed_ops,
            "attempted": len(ops),
            "failed": len(failed_ops),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump({"details": details, "result": result}, f, indent=1)
        return details, result
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.run import run as run_in_package  # workers import perfbench.*

    details, result = run_in_package(args, _T0)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
