#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in one process against ``local[nproc]`` Spark with
one closed-loop client, checks every result, and prints as its last
stdout line one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` tags every engine call with a Spark job
group, writes an uncompressed event log, and reports the per-layer
metrics instead. Run from the repository root; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import common
import tracing

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload -> the components one pass runs, in order
WORKLOADS = {
    "vector_and_commit_log": ("wl_vector", "wl_commitlog"),
    "curation_queries": ("wl_curation",),
}


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def _host_env(work: str) -> None:
    """Point every scratch path of Spark and its Python workers inside
    ``work``, make the repository importable by the workers, and size
    the session to this host."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb / 4)))}g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher and the driver): temp files
    # inside ``work`` and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _session(work: str, trace: bool):
    from zvdb_spark.session import get_session

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the
    JVM and the Python workers it started have exited."""
    from pyspark import SparkContext

    started = common.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = {p: t for p, t in alive.items() if common.running(p, t)}
    for p, t in alive.items():
        if common.running(p, t):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:  # ended after the check
                pass


def _layer_metrics(ctx, work: str) -> tuple[dict[str, float], dict[str, dict]]:
    logs = os.listdir(os.path.join(work, "eventlog"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    log = tracing.read_event_log(os.path.join(work, "eventlog", logs[0]))
    per_span = tracing.attribute(ctx.tracer.spans, log)
    names = tracing.rollup(per_span)
    groups = {s["id"] for s in ctx.tracer.spans}
    tot = tracing.totals(log, groups)
    ctx.extras.update(
        {
            "spark.jobs": sum(1 for j in log.jobs.values() if j.group in groups),
            "spark.tasks": tot.tasks,
            "spark.gc_s": tot.gc_s,
            "spark.python_start_s": tot.python_start_s,
        }
    )
    return common.layer_table(names, ctx), per_span


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "zvdb_spark")):
        print(
            f"perfbench: no zvdb_spark package under {ROOT}; "
            "run from a full checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _host_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        session_cpu_s = common.tree_cpu_s()
        ctx = common.Ctx(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            trace=bool(args.trace),
        )
        t_run = time.perf_counter()
        parts = [
            importlib.import_module(m).prepare(ctx) for m in WORKLOADS[args.workload]
        ]

        def one_pass(i: int) -> tuple[int, float]:
            ops, secs = zip(*(p.one_pass(i) for p in parts))
            return sum(ops), sum(secs)

        passes, cpu, ops = common.measure(ctx, one_pass)
        figures = {}
        for p in parts:
            figures.update(p.finish())
        ctx.extras.update(figures)
        t_done = time.perf_counter()
        e2e = {
            "setup_s": session_cpu_s + sum(p.setup_cpu_s for p in parts),
            "pass_cpu_s": cpu[0],
            "op_success_ratio": (ctx.attempted - ctx.failed) / ctx.attempted,
        }
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "e2e": e2e,
            "session_cpu_s": session_cpu_s,
            "passes_s": passes,
            "passes_cpu_s": cpu,
            "ops": ops,
            "phase_s": {
                "start_to_session": t0 - T_START,
                "session": session_s,
                "workload": t_done - t_run,
                "workload_untimed": t_done - t_run - sum(passes),
                **ctx.untimed,
            },
            "figures": figures,
            "errors": ctx.errors,
        }
        metrics = e2e
        if args.trace:
            _shutdown(spark)
            spark = None
            metrics, per_span = _layer_metrics(ctx, work)
            trace_dir = os.path.join(out_dir, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            ctx.tracer.write(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                {"summary": summary, "per_span": per_span, "layers": metrics},
            )
        kind = "per_layer" if args.trace else "end_to_end"
        declared = {m["name"]: m["unit"] for m in _declared(kind)}
        missing = sorted(set(declared) - set(metrics))
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        print(json.dumps(summary, default=float), file=sys.stderr)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {
                n: {"value": float(metrics[n]), "unit": u}
                for n, u in declared.items()
            },
        }
    except Exception:  # noqa: BLE001 - set-up failed: no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
