"""pyspark's Python worker daemon with a guarded ``importlib.invalidate_caches``.

``session.get_spark`` starts Spark's Python workers under this module
(``spark.python.daemon.module``). pyspark 4.1.2 calls
``importlib.invalidate_caches()`` at the start of every task, in
``worker_util.setup_spark_files``. On Python 3.11 that makes every
zipimporter in ``sys.path_importer_cache`` re-read its zip directory,
the Spark core jar's 5,359 entries among them: 0.19-0.24 s of CPU per
task on a local[4] worker. The guard makes the real call only when what
it protects changed since its last call in the process: ``sys.path``, the
SparkFiles root, or the ``(name, mtime_ns)`` listing of that root, where
``addPyFile`` lands a new ``.py``. Workers fork from the daemon and
inherit the guard, so a reused worker pays the real call on its first
task and afterwards only when a file or path entry arrives. The guard is
process-wide: in a worker, code that writes a module into some other
directory already on ``sys.path`` cannot rely on ``invalidate_caches``.

The dotted name ends in ``guarded_pyspark.daemon`` on purpose. Tools that
pick out Python workers by ``pyspark.daemon`` in their command line, such
as the worker-memory split of ``perfbench/run.py``, still find them.

Spark runs ``python -m cov_tiles_spark.guarded_pyspark.daemon pyspark.worker``
from the driver's working directory, so the package must be importable from
there or from ``PYTHONPATH``. Importing the module has no side effect.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys


def _listing(root):
    """Sorted ``(name, mtime_ns)`` of the entries of ``root``, or None when
    it cannot be read."""
    try:
        with os.scandir(root) as entries:
            return tuple(sorted((e.name, e.stat().st_mtime_ns) for e in entries))
    except OSError:
        return None


def guard(real, spark_files_root):
    """Wrap ``real`` so that it runs only when ``sys.path``,
    ``spark_files_root()`` or that directory's listing changed since its
    last run, or when the listing cannot be read."""
    last = None

    @functools.wraps(real)
    def invalidate_caches():
        nonlocal last
        root = spark_files_root()
        state = (tuple(sys.path), root, _listing(root))
        if state[2] is None or state != last:
            real()
            last = state

    return invalidate_caches


def main() -> None:
    import pyspark.daemon  # reads the worker module from sys.argv[1]
    from pyspark.core.files import SparkFiles

    importlib.invalidate_caches = guard(
        importlib.invalidate_caches, lambda: SparkFiles._root_directory
    )
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
