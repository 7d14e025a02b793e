"""Spans around engine calls, joined to Spark event-log task metrics.

A traced run wraps each public engine call in a span (name, start,
end, parent) and tags the Spark jobs the call launches with the span's
id through ``SparkContext.setJobGroup``. The session writes an
uncompressed, non-rolling event log; after the run the log is parsed
and every job, stage and task is attributed to the span whose group
submitted it.

Times in the event log are epoch milliseconds from the driver's clock;
spans use ``time.time()`` on the same clock. Spark's SQL timing
metrics ("time to run Python workers", "time to start Python
workers") are recorded in milliseconds.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"


class Tracer:
    """Records spans; with ``enabled`` False it records nothing and
    never touches the job group, so an untraced run pays no cost."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1)


@dataclass
class StageAgg:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    result_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_run_s: float = 0.0
    python_start_s: float = 0.0
    input_bytes: int = 0

    def add(self, other: "StageAgg") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_group: dict[int, str | None]
    stages: dict[int, StageAgg]


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_event_log(lines) -> EventLog:
    """Parse an uncompressed Spark event log (an iterable of JSON
    lines). Each stage is tagged with the job group in force when it
    was submitted; tasks add their metrics to their stage."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    stages: dict[int, StageAgg] = defaultdict(StageAgg)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                start=e["Submission Time"] / 1000.0,
                stages=list(e.get("Stage IDs", ())),
            )
        elif ev == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get("spark.jobGroup.id")
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ti = e.get("Task Info") or {}
            agg = stages[e["Stage ID"]]
            agg.tasks += 1
            agg.run_s += tm.get("Executor Run Time", 0) / 1e3
            agg.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            agg.gc_s += tm.get("JVM GC Time", 0) / 1e3
            agg.result_bytes += tm.get("Result Size", 0)
            agg.shuffle_write_bytes += (
                tm.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            agg.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            agg.input_bytes += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
            agg.python_run_s += _acc(ti, PY_RUN) / 1e3
            agg.python_start_s += _acc(ti, PY_START) / 1e3
    return EventLog(jobs=jobs, stage_group=stage_group, stages=dict(stages))


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


def covered(interval: tuple[float, float], parts) -> float:
    """Length of ``interval`` covered by the union of ``parts``
    (each clipped to the interval)."""
    lo, hi = interval
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _descendants(spans: list[dict]) -> dict[str, list[str]]:
    children: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    out: dict[str, list[str]] = {}

    def walk(sid: str) -> list[str]:
        if sid not in out:
            acc = [sid]
            for c in children.get(sid, ()):
                acc.extend(walk(c))
            out[sid] = acc
        return out[sid]

    for s in spans:
        walk(s["id"])
    return out


def attribute(spans: list[dict], log: EventLog) -> dict[str, dict]:
    """Per-span metrics over the span's subtree (the span and every
    span it caused): wall, self (wall minus time covered by child
    spans), driver (wall not covered by any of the subtree's jobs),
    job and task counts, and summed task metrics."""
    subtree = _descendants(spans)
    by_id = {s["id"]: s for s in spans}
    jobs_of: dict[str, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        if job.group is not None:
            jobs_of[job.group].append(job)
    stages_of: dict[str, list[int]] = defaultdict(list)
    for sid, group in log.stage_group.items():
        if group is not None:
            stages_of[group].append(sid)
    out: dict[str, dict] = {}
    for s in spans:
        ids = subtree[s["id"]]
        wall = s["end"] - s["start"]
        kids = [
            (by_id[c]["start"], by_id[c]["end"])
            for c in ids
            if by_id[c]["parent"] == s["id"]
        ]
        jobs = [j for i in ids for j in jobs_of.get(i, ())]
        job_iv = [(j.start, j.end if j.end is not None else s["end"]) for j in jobs]
        agg = StageAgg()
        for i in ids:
            for sid in stages_of.get(i, ()):
                st = log.stages.get(sid)
                if st is not None:
                    agg.add(st)
        out[s["id"]] = {
            "name": s["name"],
            "wall_s": wall,
            "self_s": wall - covered((s["start"], s["end"]), kids),
            "driver_s": wall - covered((s["start"], s["end"]), job_iv),
            "jobs": len(jobs),
            "own_jobs": len(jobs_of.get(s["id"], ())),
            "tasks": agg.tasks,
            "task_run_s": agg.run_s,
            "task_cpu_s": agg.cpu_s,
            "gc_s": agg.gc_s,
            "python_run_s": agg.python_run_s,
            "python_start_s": agg.python_start_s,
            "shuffle_write_bytes": agg.shuffle_write_bytes,
            "spill_bytes": agg.spill_bytes,
            "result_bytes": agg.result_bytes,
            "input_bytes": agg.input_bytes,
        }
    return out


def rollup(per_span: dict[str, dict]) -> dict[str, dict]:
    """Sum per-span metrics over spans that share a name."""
    out: dict[str, dict] = {}
    for m in per_span.values():
        tot = out.setdefault(m["name"], {"count": 0})
        tot["count"] += 1
        for k, v in m.items():
            if k != "name":
                tot[k] = tot.get(k, 0) + v
    return out


def totals(log: EventLog, groups: set[str]) -> StageAgg:
    """Task metrics summed over every stage submitted under ``groups``."""
    agg = StageAgg()
    for sid, group in log.stage_group.items():
        if group in groups and sid in log.stages:
            agg.add(log.stages[sid])
    return agg
