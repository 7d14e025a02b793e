import json
import os

import pytest

import tracing

DATA = os.path.join(os.path.dirname(__file__), "data")


def _job_start(job, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Submission Time": t_ms,
        "Stage IDs": stages,
        "Properties": props,
    }


def _stage(stage, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage},
        "Properties": props,
    }


def _task(stage, run_ms, cpu_ns, py_run_ms=0, shuffle=0, spill=0, result=0, gc_ms=0):
    accs = []
    if py_run_ms:
        accs.append({"Name": tracing.PY_RUN, "Update": str(py_run_ms)})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Result Size": result,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": 100},
        },
    }


def _job_end(job, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t_ms}


# span pb0 covers 0-10 s; its child pb1 covers 2-6 s. Job 0 (pb0) runs
# 1-2 s, job 1 (pb1) runs 3-5 s, job 2 is untagged.
EVENTS = [
    _job_start(0, 1000, [0], "pb0"),
    _stage(0, "pb0"),
    _task(0, 400, 3e8, shuffle=10, result=5),
    _task(0, 600, 5e8, shuffle=20, result=5),
    _job_end(0, 2000),
    _job_start(1, 3000, [1, 2], "pb1"),
    _stage(1, "pb1"),
    _task(1, 1000, 9e8, py_run_ms=700, spill=64),
    _stage(2, "pb1"),
    _task(2, 200, 1e8, gc_ms=50),
    _job_end(1, 5000),
    _job_start(2, 7000, [3]),
    _stage(3),
    _task(3, 100, 1e8),
    _job_end(2, 7500),
]
SPANS = [
    {"id": "pb0", "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
    {"id": "pb1", "name": "inner", "parent": "pb0", "start": 2.0, "end": 6.0},
]


@pytest.fixture
def log():
    return tracing.parse_event_log(json.dumps(e) for e in EVENTS)


def test_parse_groups_jobs_and_stages(log):
    assert {j: log.jobs[j].group for j in log.jobs} == {0: "pb0", 1: "pb1", 2: None}
    assert log.jobs[1].start == 3.0 and log.jobs[1].end == 5.0
    assert log.stage_group == {0: "pb0", 1: "pb1", 2: "pb1", 3: None}
    st = log.stages[0]
    assert st.tasks == 2
    assert st.run_s == pytest.approx(1.0)
    assert st.cpu_s == pytest.approx(0.8)
    assert st.shuffle_write_bytes == 30
    assert log.stages[1].python_run_s == pytest.approx(0.7)
    assert log.stages[1].spill_bytes == 64
    assert log.stages[2].gc_s == pytest.approx(0.05)


def test_parse_skips_blank_lines_and_unknown_events():
    lines = ["", json.dumps({"Event": "SparkListenerLogStart"}), json.dumps(EVENTS[0])]
    log = tracing.parse_event_log(lines)
    assert list(log.jobs) == [0]
    assert log.stages == {}


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered((0, 10), []) == 0
    assert tracing.covered((0, 10), [(1, 3), (2, 4), (6, 7)]) == pytest.approx(4)
    assert tracing.covered((0, 10), [(-5, 1), (9, 20)]) == pytest.approx(2)
    assert tracing.covered((0, 10), [(11, 12)]) == 0


def test_attribute_self_and_driver_time(log):
    m = tracing.attribute(SPANS, log)
    outer, inner = m["pb0"], m["pb1"]
    # self time: wall minus the part its child covers
    assert outer["wall_s"] == pytest.approx(10)
    assert outer["self_s"] == pytest.approx(6)
    assert inner["self_s"] == pytest.approx(4)
    # driver time: wall not covered by any job of the span's subtree
    assert outer["driver_s"] == pytest.approx(10 - 1 - 2)
    assert inner["driver_s"] == pytest.approx(4 - 2)
    # the untagged job belongs to no span
    assert outer["jobs"] == 2 and outer["own_jobs"] == 1
    assert inner["jobs"] == 1
    assert outer["tasks"] == 4 and inner["tasks"] == 2
    assert outer["task_cpu_s"] == pytest.approx(1.8)
    assert inner["python_run_s"] == pytest.approx(0.7)
    assert outer["input_bytes"] == 400


def test_rollup_and_totals(log):
    spans = SPANS + [
        {"id": "pb2", "name": "inner", "parent": "pb0", "start": 6.5, "end": 7.0}
    ]
    names = tracing.rollup(tracing.attribute(spans, log))
    assert names["inner"]["count"] == 2
    assert names["inner"]["wall_s"] == pytest.approx(4.5)
    tot = tracing.totals(log, {"pb0", "pb1"})
    assert tot.tasks == 4
    assert tracing.totals(log, set()).tasks == 0


class FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(("group", group, desc))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))


def test_tracer_tags_nested_spans_and_restores_parent():
    sc = FakeContext()
    tr = tracing.Tracer(sc, enabled=True)
    with tr.span("a") as a:
        with tr.span("b") as b:
            assert b["parent"] == a["id"]
    assert [s["name"] for s in tr.spans] == ["a", "b"]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert sc.calls == [
        ("group", "pb0", "a"),
        ("group", "pb1", "b"),
        ("group", "pb0", "a"),
        ("prop", "spark.jobGroup.id", None),
        ("prop", "spark.job.description", None),
    ]


def test_disabled_tracer_records_nothing():
    sc = FakeContext()
    tr = tracing.Tracer(sc, enabled=False)
    with tr.span("a") as rec:
        assert rec is None
    assert tr.spans == [] and sc.calls == []


def test_span_closes_on_error():
    tr = tracing.Tracer(FakeContext(), enabled=True)
    with pytest.raises(RuntimeError):
        with tr.span("a"):
            raise RuntimeError("boom")
    assert tr.spans[0]["end"] is not None


def test_recorded_log_attribution():
    """A real Spark 4.1 event log: a mapInPandas job under span ``py``
    (nested in ``outer``), a shuffle under ``agg``, and one untagged
    job after both spans closed."""
    with open(os.path.join(DATA, "spans.json")) as f:
        spans = json.load(f)["spans"]
    log = tracing.read_event_log(os.path.join(DATA, "eventlog.jsonl"))
    m = tracing.attribute(spans, log)
    by_name = {v["name"]: v for v in m.values()}
    py, agg, outer = by_name["py"], by_name["agg"], by_name["outer"]
    assert py["jobs"] >= 1 and py["tasks"] == 4
    assert py["python_run_s"] > 0
    assert agg["shuffle_write_bytes"] > 0
    assert outer["jobs"] == py["jobs"] + agg["jobs"]
    assert outer["tasks"] == py["tasks"] + agg["tasks"]
    for v in m.values():
        assert 0 <= v["driver_s"] <= v["wall_s"] + 1e-9
        assert 0 <= v["self_s"] <= v["wall_s"] + 1e-9
    tagged = sum(1 for j in log.jobs.values() if j.group is not None)
    assert tagged == outer["jobs"] < len(log.jobs)
