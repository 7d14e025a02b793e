"""The engine's Python worker daemon (zvdb_spark/daemon.py).

Sessions from ``get_session`` start their Python workers from
``zvdb_spark.daemon``, which stops the per-task re-read of every zip
archive on the worker path. These tests pin that the daemon is the one
running, that the patch is in place in the workers, that archives
added after the workers are warm stay importable, and that workers
find the engine from any working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_run_the_engine_daemon(spark):
    def worker_facts(_):
        import sys
        import zipimport

        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        return (
            spec.name if spec else None,
            zipimport.zipimporter.invalidate_caches
            is getattr(main, "_keep_zip_directory", None),
        )

    facts = set(
        spark.sparkContext.parallelize(range(8), 8).map(worker_facts).collect()
    )
    assert facts == {("zvdb_spark.daemon", sys.version_info < (3, 13))}


def test_zip_added_after_warm_workers_imports(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(8), 8).count()  # warm, reused workers
    name = f"late_zip_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def load(_):
        import importlib

        return importlib.import_module(name).VALUE

    assert sc.parallelize(range(8), 8).map(load).collect() == [42] * 8


def test_plain_udf_runs_from_any_working_directory(tmp_path):
    """Workers start as ``python -m zvdb_spark.daemon``: with neither the
    repository as working directory nor PYTHONPATH, they must still
    find the engine (through spark.executorEnv.PYTHONPATH)."""
    child = tmp_path / "child_udf.py"
    child.write_text(
        """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from zvdb_spark.session import get_session

spark = get_session("daemon_cwd_child", cpus=2)
plus_one = F.udf(lambda x: x + 1, "long")
rows = spark.range(4).select(plus_one("id").alias("y")).collect()
assert sorted(r.y for r in rows) == [1, 2, 3, 4], rows
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, str(child), REPO],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]
