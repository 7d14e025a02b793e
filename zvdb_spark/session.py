"""SparkSession builder for zvdb_spark.

Tuned for local[N] testing but configured the way a 1000-executor
cluster run would be: AQE on (runtime re-planning, skew-join split,
partition coalescing), broadcast threshold sized so the dimension
tables (region/nation/supplier) always broadcast, Arrow enabled for
the Pandas-UDF paths, UTC session timezone so timestamp semantics
match the DuckDB oracle.

Python workers come from the engine's own daemon
(``spark.python.daemon.module = zvdb_spark.daemon``). PySpark calls
``importlib.invalidate_caches()`` before every Python task, and before
Python 3.13 that re-reads the central directory of every zip archive
on the worker path (``pyspark.zip``, py4j, the Spark core jar). On a
4-core host, a trivial 32-task RDD ``map`` in a warm session cost
0.29 CPU-s of worker CPU per task that way; the daemon makes the
re-read a no-op (see ``zvdb_spark/daemon.py``) and the same job costs
0.027 CPU-s per task. Python 3.13 made the invalidation lazy, so
there the daemon changes nothing. Because the JVM starts the daemon
as ``python -m zvdb_spark.daemon``, the package's parent directory
goes onto ``spark.executorEnv.PYTHONPATH``: workers then find the
engine from any working directory.

Fixed cost per session: the JIT. A cold session spends much of its CPU
compiling, not running the engine. On a 4-core host, the JVM's C2
compiler threads used 35.4 of 72.3 CPU-s (49%) of a cold
``curation_queries`` benchmark pass; a JFR recording counted 3,134 C2
compiles, mostly of warm-up-only code (JDK serialization and class
loading 18.0 s, Janino, Spark's codegen compiler, 12.0 s). The same
vector pass costs 64.8 CPU-s cold and 17-22 CPU-s warm. HotSpot sizes
its compiler pool from the core count: 3 threads at 4 cores, 4 at 8,
15 at 32. The driver JVM therefore starts with
``-XX:CICompilerCount=2``: one C1 and one C2 thread. With one C2
thread, HotSpot's queue-load feedback raises the tier-4 thresholds and
drops stale compile tasks, so warm-up-only methods never reach C2
while loops that stay hot still do. C1 only (``-XX:TieredStopAtLevel=1``)
cut the cold pass further (37.7 CPU-s) but made warm JVM loops 2-8x
slower: a 60M-row ``spark.range`` group-by 1.1-1.3 -> 8.1-8.9 s, a
6M-row sha2 sort 4.6-5.0 -> 10.3-13.0 s, a 400k x 128 Arrow round trip
through ``mapInPandas`` 4.5-4.8 -> 5.6-6.7 s. With the cap, on the
same host, in interleaved ``perfbench`` pairs: ``curation_queries``
pass CPU median 64.9 -> 51.7 CPU-s (10/10 wins; uncapped quartiles
59.4-66.5), setup 14.9 -> 13.4 s; ``vector_and_commit_log`` pass CPU
61.1 -> 48.1 CPU-s (5/6 wins), setup 32.9 -> 28.8 s (6/6), with
commit-log reads that no longer infer their schema. C2's share
of the JVM's CPU over a cold ``curation_queries`` run fell from 49-50%
to 38%. The three warm hot loops stayed inside the uncapped
run-to-run quartiles (README, "Fixed cost per session: the JIT"). The
option touches only the driver JVM: in ``local[N]`` that is the whole
engine; on a cluster the executors keep the default pool for their
long hot loops. A caller's own ``spark.driver.extraJavaOptions`` is
appended after the cap, not substituted for it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# directory holding the zvdb_spark package, for the workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
# one C1 + one C2 compiler thread in the driver JVM (see module doc)
_DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def get_session(
    app_name: str = "zvdb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``shuffle_partitions`` defaults to the core count: on a real
    cluster this would be sized to total executor cores (or left to
    AQE coalescing, which is enabled); at 100 TB you would raise
    ``spark.sql.shuffle.partitions`` into the thousands and let AQE
    coalesce — the configs below are scale-invariant.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # One BLAS thread per Python worker: each worker already owns one
    # task slot, so letting OpenBLAS/MKL spawn a full pool per worker
    # oversubscribes cores catastrophically (measured: the cell-GEMM
    # edge build ran 16 s vs ~1 s wall at 100k x 128-d). Workers
    # inherit these from the JVM environment; the driver process (and
    # its already-initialized numpy) is unaffected.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # a caller's driver JVM options go after the compiler cap, not
    # in place of it
    conf = dict(extra_conf or {})
    java_options = (
        f"{_DRIVER_JAVA_OPTIONS} "
        f"{conf.pop('spark.driver.extraJavaOptions', '')}"
    ).strip()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.extraJavaOptions", java_options)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # same single-BLAS-thread contract on a real cluster, where
        # executors are separate JVMs that don't inherit our env
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.python.daemon.module", "zvdb_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
