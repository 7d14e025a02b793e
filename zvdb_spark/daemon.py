"""Python worker daemon for engine sessions.

``get_session`` sets ``spark.python.daemon.module`` to this module, so
the JVM starts it (``python -m zvdb_spark.daemon``) in place of
``pyspark.daemon``. It changes one thing and then runs PySpark's own
daemon loop.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before Python 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory at once. A warm worker holds about 16 of them:
``pyspark.zip`` and its sub-packages, the py4j zip and the Spark core
jar (5k+ entries). That re-read cost ~0.25 CPU-s per task, while a
trivial UDF body costs under 0.01 s. Here it becomes a no-op. An
archive already on the worker path does not change while the worker
lives, and a zip added later with ``addPyFile`` is a new path entry
that gets a fresh importer, so everything importable before stays
importable. Python 3.13 made the invalidation lazy; there the patch is
not applied.

The patch is set before ``manager()`` forks any worker, so every
worker inherits it.
"""

from __future__ import annotations

import sys
import zipimport


def _keep_zip_directory(self) -> None:
    """Stand-in for ``zipimporter.invalidate_caches``: keep the archive
    directory read when the importer was created."""


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
