"""Fold Spark's own event log into per-job-group counters.

The traced run enables the event log through ``get_spark(extra_conf=...)``
and tags every call into a layer with ``setJobGroup``. After the session
stops, :func:`fold` reads the log back and sums, per job group: jobs,
tasks, executor CPU, shuffle bytes written, output bytes, and the wall
interval of every job (for the driver-residual figure).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    # (start_ms, end_ms) of every job in the group
    job_intervals: list[tuple[int, int]] = field(default_factory=list)


def config(log_dir: str) -> dict[str, str]:
    """Session conf that writes an uncompressed event log into ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    # Spark 4 writes one ``eventlog_v2_<app>/events_<n>_<app>`` dir per app
    for root, _dirs, files in sorted(os.walk(log_dir)):
        for name in sorted(f for f in files if f.startswith(("events_", "local-", "app-"))):
            with open(os.path.join(root, name)) as f:
                for line in f:
                    yield json.loads(line)


def fold(log_dir: str) -> dict[str, GroupTotals]:
    """Totals per job group id; jobs without a group land under ``""``."""
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
            groups[g].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid, "")
            groups[g].job_intervals.append((job_start.get(jid, ev["Completion Time"]), ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], "")
            t = groups[g]
            t.tasks += 1
            m = ev.get("Task Metrics") or {}
            t.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(groups)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
