import json

from perfbench import eventlog
from perfbench.trace import Tracer


class FakeSc:
    def __init__(self):
        self.group = None
        self.history = []

    def setJobGroup(self, group, desc):
        self.group = group
        self.history.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value
        self.history.append(value)


def test_spans_nest_and_restore_the_job_group():
    sc = FakeSc()
    t = Tracer(sc, enabled=True)
    with t.span("op", group="op1", op="op1"):
        with t.span("sinks.upsert", group="op1/sinks.upsert/edge", table="edge"):
            assert sc.group == "op1/sinks.upsert/edge"
            assert t.current_op() == "op1"
        assert sc.group == "op1"
    assert sc.group is None
    inner, outer = t.spans
    assert (outer.name, outer.parent, outer.op) == ("op", None, "op1")
    assert (inner.parent, inner.op, inner.attrs) == (outer.id, "op1", {"table": "edge"})
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    sc = FakeSc()
    t = Tracer(sc, enabled=False)
    with t.span("op", group="op1", op="op1"):
        pass
    assert t.spans == [] and sc.history == []


def _write_log(path, events):
    path.mkdir()
    with open(path / "events_1_local-1", "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_event_log_folds_per_job_group(tmp_path):
    def task(stage, cpu_ns, shuffle, out):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Executor Run Time": 10,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
                "Output Metrics": {"Bytes Written": out},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op1/sinks.upsert/edge"}},
        task(0, 2_000_000_000, 100, 0),
        task(1, 1_000_000_000, 0, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [2], "Properties": {}},
        task(2, 500_000_000, 7, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    ]
    _write_log(tmp_path / "eventlog_v2_local-1", events)
    groups = eventlog.fold(str(tmp_path))
    g = groups["op1/sinks.upsert/edge"]
    assert (g.jobs, g.tasks, g.shuffle_write_bytes, g.output_bytes) == (1, 2, 100, 50)
    assert g.executor_cpu_s == 3.0
    assert g.job_intervals == [(1000, 3000)]
    assert groups[""].jobs == 1 and groups[""].tasks == 1


def test_union_of_intervals():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([(0, 10), (2, 3)]) == 10
    assert eventlog.union_s([]) == 0


def test_overhead_counts_the_tracer_not_the_traced_work():
    import time

    t = Tracer(FakeSc(), enabled=True)
    with t.span("op", group="op1", op="op1"):
        time.sleep(0.05)
    assert 0 < t.overhead_s < 0.01
    off = Tracer(FakeSc(), enabled=False)
    with off.span("op", group="op1", op="op1"):
        pass
    assert off.overhead_s == 0
