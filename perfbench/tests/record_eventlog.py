"""Re-record the small event log the tracing tests read.

    python3 perfbench/tests/record_eventlog.py

Runs three tiny jobs in a local Spark session with an uncompressed,
non-rolling event log: a mapInPandas job under span ``py`` (nested in
``outer``), a shuffle under ``agg`` (also in ``outer``), and one
untagged job. Writes ``data/eventlog.jsonl`` (only the events and
fields tracing.py reads) and ``data/spans.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
}


def _scrub(e: dict) -> dict | None:
    keys = KEEP.get(e.get("Event"))
    if keys is None:
        return None
    out = {"Event": e["Event"]}
    for k in keys:
        v = e.get(k)
        if k == "Properties":
            v = {p: x for p, x in (v or {}).items() if p == "spark.jobGroup.id"}
        elif k == "Stage Info":
            v = {"Stage ID": v["Stage ID"]}
        elif k == "Task Info":
            v = {
                "Accumulables": [
                    {"Name": a["Name"], "Update": a["Update"]}
                    for a in v.get("Accumulables", ())
                    if "Python" in str(a.get("Name"))
                ]
            }
        out[k] = v
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tracing import Tracer

    tmp = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", tmp)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        tr = Tracer(spark.sparkContext, enabled=True)

        def passthrough(batches):
            yield from batches

        with tr.span("outer"):
            with tr.span("py"):
                spark.range(0, 4000, 1, 4).mapInPandas(passthrough, "id long").write.format(
                    "noop"
                ).mode("overwrite").save()
            with tr.span("agg"):
                spark.range(0, 4000, 1, 4).groupBy(F.col("id") % 7).count().collect()
        spark.range(10).count()
        spark.stop()
        (path,) = glob.glob(os.path.join(tmp, "*"))
        events = []
        with open(path) as f:
            for line in f:
                e = _scrub(json.loads(line))
                if e is not None:
                    events.append(json.dumps(e, sort_keys=True))
        os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
        with open(os.path.join(HERE, "data", "eventlog.jsonl"), "w") as f:
            f.write("\n".join(events) + "\n")
        tr.write(os.path.join(HERE, "data", "spans.json"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
