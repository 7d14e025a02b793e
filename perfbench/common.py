"""Shared run context: fenced engine operations, the measured window,
set-up timing, CPU seconds of the process tree, and the per-layer
metric table every workload reports."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from tracing import Tracer

VECTOR_SPANS = (
    "operators.graph_ann.build",
    "operators.graph_ann.state",
    "operators.graph_ann.search",
    "operators.graph_ann.append",
    "operators.segments.exact_search",
)
VECTOR_FIELDS = (
    "wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "python_run_s",
    "shuffle_write_bytes", "result_bytes",
)
QUERY_MODULES = (
    "dedup", "text", "curation", "vocab", "retrieval", "pipeline",
    "multimodal", "aggregates", "joins", "windows", "scalar", "vector",
)
EXPORT_OPS = (
    "append_shards_tx", "merge_docs_tx", "delete_docs_tx", "lookup_docs",
    "read_committed_pruned", "compact_shards", "log_history",
)
EXPORT_FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s")
SPARK_TOTALS = ("spark.jobs", "spark.tasks", "spark.gc_s", "spark.python_start_s")
FIGURES = (
    "vector.insert_pts_per_s",
    "vector.exact_search_qps",
    "vector.ann_search_qps",
    "vector.ann_recall_at_10",
    "vector.append_pts_per_s",
    "churn.commit_latency_p50_s",
    "churn.read_latency_p50_s",
    "churn.write_amplification",
)


def _proc_table() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name, by pid, of
    this process and every live descendant."""
    root = os.getpid()
    fields: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields[int(entry)] = stat[stat.rindex(")") + 2 :].split()
    out = {}
    for pid, f in fields.items():
        p = pid
        while p > 1 and p != root:
            p = int(fields[p][1]) if p in fields else 0
        if p == root:
            out[pid] = f
    return out


def descendants() -> dict[int, str]:
    """The live processes this process started, directly or not, as
    pid -> start time (which tells a pid's reuse from the process)."""
    me = os.getpid()
    return {pid: f[19] for pid, f in _proc_table().items() if pid != me}


def running(pid: int, start: str) -> bool:
    """True while process ``pid`` with that start time runs (a zombie
    has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    f = stat[stat.rindex(")") + 2 :].split()
    return f[19] == start and f[0] != "Z"


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live
    descendant: the driver, the JVM it launched and the JVM's Python
    workers. Time the hypervisor steals is not charged to processes,
    so this moves less than wall time on a loaded shared host."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _proc_table().values())
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Part:
    """One workload component, ready to measure: the CPU seconds of its
    input set-up (the session start is added by the runner), a pass
    function for ``measure`` and a ``finish()`` returning component
    figures."""

    setup_cpu_s: float
    one_pass: Callable[[int], tuple[int, float]]
    finish: Callable[[], dict[str, float]]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    trace: bool
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    extras: dict[str, float] = field(default_factory=dict)
    untimed: dict[str, float] = field(default_factory=dict)
    op_cpu_s: float = 0.0
    tracer: Tracer = None

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.spark.sparkContext, self.trace)

    def op(self, span: str, fn):
        """One fenced engine operation: counted as attempted, timed,
        and on an exception counted as failed with the run carrying
        on. Returns (seconds, value); value is None on failure."""
        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        value = None
        try:
            with self.tracer.span(span):
                value = fn()
        except Exception as exc:  # noqa: BLE001 - one failure, run goes on
            self.fail(f"{span}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
        secs = time.perf_counter() - t0
        self.op_cpu_s += tree_cpu_s() - c0
        return secs, value

    @contextmanager
    def phase(self, name: str):
        """Account wall time spent outside the measured operations."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed[name] = self.untimed.get(name, 0.0) + time.perf_counter() - t0

    def fail(self, why: str) -> None:
        """Record a wrong or failed operation."""
        self.failed += 1
        self.errors.append(why[:300])
        print(f"perfbench: FAILED {why}", file=sys.stderr)

    def check(self, ok: bool, why: str) -> bool:
        """A correctness check on an operation already counted as
        attempted: a mismatch counts that operation as failed."""
        if not ok:
            self.fail(why)
        return ok


def measure(ctx: Ctx, one_pass, max_passes: int = 8):
    """The measured window: whole passes of the workload's cycle until
    their timed seconds reach ``ctx.seconds``, at least one. Pass 0 is
    the first in a fresh session, so it carries the cold costs (worker
    start, imports, JIT, codegen). ``one_pass(i)`` returns (operations
    run, seconds timed); checks it makes outside its timed regions do
    not count. Returns (pass times, CPU seconds of each pass's
    operations, operations)."""
    passes: list[float] = []
    cpu: list[float] = []
    ops = 0
    while not passes or (sum(passes) < ctx.seconds and len(passes) < max_passes):
        c0 = ctx.op_cpu_s
        n, secs = one_pass(len(passes))
        ops += n
        passes.append(secs)
        cpu.append(ctx.op_cpu_s - c0)
    return passes, cpu, ops


def setup(ctx: Ctx, generate, load, reps: int = 3) -> tuple[float, object]:
    """Input set-up: ``generate()`` makes the seeded inputs on disk and
    runs ``reps`` times, of which the median counts; ``load(generated)``
    then brings them into the engine once. Returns (CPU seconds of
    the process tree, loaded)."""
    cpu = []
    with ctx.phase("setup"):
        for _ in range(reps):
            c0 = tree_cpu_s()
            generated = generate()
            cpu.append(tree_cpu_s() - c0)
        c0 = tree_cpu_s()
        loaded = load(generated)
    return statistics.median(cpu) + tree_cpu_s() - c0, loaded


def layer_table(names: dict[str, dict], ctx: Ctx) -> dict[str, float]:
    """Every per-layer metric, from span rollups by name. Layers a
    workload does not run report 0."""

    def get(span: str, key: str) -> float:
        return float(names.get(span, {}).get(key, 0.0))

    out: dict[str, float] = {}
    for span in VECTOR_SPANS:
        for f in VECTOR_FIELDS:
            out[f"{span}.{f}"] = get(span, f)
    for mod in QUERY_MODULES:
        span = f"queries.{mod}"
        out[f"{span}.wall_s"] = get(span, "wall_s")
        out[f"{span}.python_run_s"] = get(span, "python_run_s")
        out[f"{span}.eager_jobs"] = get(f"{span}.plan", "jobs")
    plan = [n for n in names if n.startswith("queries.") and n.endswith(".plan")]
    run = [n for n in names if n.startswith("queries.") and n.endswith(".exec")]
    out["queries.plan_s"] = sum(get(n, "wall_s") for n in plan)
    out["queries.exec_s"] = sum(get(n, "wall_s") for n in run)
    for opname in EXPORT_OPS:
        span = f"queries.export.{opname}"
        for f in EXPORT_FIELDS:
            out[f"{span}.{f}"] = get(span, f)
    out["queries.export.lookup_docs.bytes_read_per_row"] = get(
        "queries.export.lookup_docs", "input_bytes"
    ) / max(1.0, ctx.extras.get("lookup_rows", 0.0))
    for key in (
        "queries.export.compact_shards.bytes_rewritten",
        "queries.export.files_live",
        *SPARK_TOTALS,
        *FIGURES,
    ):
        out[key] = float(ctx.extras.get(key, 0.0))
    return out
