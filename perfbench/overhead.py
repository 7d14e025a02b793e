#!/usr/bin/env python3
"""Tracing overhead: run a workload untraced and traced on the same
seeds, alternating which goes first, and print for each end-to-end
metric the median of (traced - untraced) / untraced.

    python3 perfbench/overhead.py --workload NAME --seeds 1,2,3

The traced run's end-to-end values come from its trace file,
``.perfbench/trace/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    if not trace:
        res = json.loads(out.stdout.strip().splitlines()[-1])
        return {k: v["value"] for k, v in res["metrics"].items()}
    path = os.path.join(ROOT, ".perfbench", "trace", f"{workload}-seed{seed}.json")
    with open(path) as f:
        return json.load(f)["summary"]["e2e"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    diffs: dict[str, list[float]] = {}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        runs = {t: _run(args.workload, seed, seconds, t) for t in order}
        for name, base in runs[0].items():
            if base:
                diffs.setdefault(name, []).append((runs[1][name] - base) / base)
    for name, d in diffs.items():
        print(f"{name:20s} median {statistics.median(d):+.3f}  runs {[round(x, 3) for x in d]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
