import json
import os
import subprocess
import sys
from types import SimpleNamespace

import common

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_layer_table_matches_declared_per_layer_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer"]]
    table = common.layer_table({}, SimpleNamespace(extras={}))
    assert sorted(table) == sorted(declared)
    assert all(v == 0.0 for v in table.values())


def test_layer_table_reads_span_rollups():
    names = {
        "operators.graph_ann.build": {"wall_s": 2.0, "jobs": 3},
        "queries.dedup": {"wall_s": 1.5, "python_run_s": 0.5},
        "queries.dedup.plan": {"wall_s": 0.25, "jobs": 2},
        "queries.dedup.exec": {"wall_s": 1.0},
        "queries.export.lookup_docs": {"input_bytes": 1000},
    }
    t = common.layer_table(names, SimpleNamespace(extras={"lookup_rows": 10}))
    assert t["operators.graph_ann.build.wall_s"] == 2.0
    assert t["operators.graph_ann.build.jobs"] == 3
    assert t["queries.dedup.eager_jobs"] == 2
    assert t["queries.plan_s"] == 0.25 and t["queries.exec_s"] == 1.0
    assert t["queries.export.lookup_docs.bytes_read_per_row"] == 100


def test_measure_runs_whole_passes_until_the_window_is_full():
    calls = []

    def one_pass(i):
        calls.append(i)
        return 2, 4.0

    ctx = SimpleNamespace(seconds=10, op_cpu_s=0.0)
    passes, cpu, ops = common.measure(ctx, one_pass)
    assert calls == [0, 1, 2] and passes == [4.0] * 3 and ops == 6
    assert cpu == [0.0] * 3
    ctx = SimpleNamespace(seconds=1, op_cpu_s=0.0)
    assert common.measure(ctx, one_pass)[0] == [4.0]


def test_descendants_and_running_track_a_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        kids = common.descendants()
        assert child.pid in kids
        assert common.running(child.pid, kids[child.pid])
        assert not common.running(child.pid, "0")  # another process's start time
        assert common.tree_cpu_s() > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not common.running(child.pid, kids[child.pid])
