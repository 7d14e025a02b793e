"""Driver JVM options set by ``get_session`` (zvdb_spark/session.py).

The driver JVM runs one C1 and one C2 compiler thread
(``-XX:CICompilerCount=2``), which cuts the JIT warm-up CPU of every
cold session. These tests pin that the cap is in place in the test
session's JVM and that a caller's own ``spark.driver.extraJavaOptions``
is appended to it, not substituted for it.
"""

from __future__ import annotations

import inspect
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compiler_count(jvm) -> str:
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption("CICompilerCount").getValue()


def test_driver_jvm_runs_two_compiler_threads(spark):
    assert _compiler_count(spark.sparkContext._jvm) == "2"


def test_caller_java_options_keep_the_compiler_cap(tmp_path):
    """The JVM is per process, so the caller's options are checked in a
    fresh one."""
    child = tmp_path / "child_jvm_options.py"
    child.write_text(
        inspect.getsource(_compiler_count)
        + """
import sys
sys.path.insert(0, sys.argv[1])
from zvdb_spark.session import get_session

spark = get_session(
    "jvm_options_child",
    cpus=1,
    extra_conf={"spark.driver.extraJavaOptions": "-Dzvdb.probe=1"},
)
jvm = spark.sparkContext._jvm
print("FACTS", _compiler_count(jvm), jvm.java.lang.System.getProperty("zvdb.probe"))
spark.stop()
"""
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, str(child), REPO],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    facts = [ln for ln in r.stdout.splitlines() if ln.startswith("FACTS ")]
    assert facts == ["FACTS 2 1"], r.stdout[-3000:]
