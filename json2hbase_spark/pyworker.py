"""PySpark daemon whose workers flush import caches only on change.

Spark starts it as ``python -m json2hbase_spark.pyworker`` (the
``spark.python.daemon.module`` conf set by ``session.get_spark``). It
is the stock ``pyspark.daemon`` with one difference in the worker's
per-task setup.

The stock ``setup_spark_files`` ends every task, in reused workers
too, with ``importlib.invalidate_caches()``. On Python 3.11 every
``zipimporter`` on ``sys.path`` then re-reads its archive directory:
a reused worker holds 16 of them (one per pyspark subpackage over
``pyspark.zip``, py4j's zip, and the ``spark-core`` jar Spark puts on
the worker ``PYTHONPATH``), so the flush cost 170-210 ms of each task.

Here a worker flushes only when something importable may have changed
since its own last flush: ``sys.path`` (a ``.zip``/``.egg`` include
from ``addPyFile``) or the names under the SparkFiles root (a ``.py``
from ``addPyFile``/``addFile``). Those are the two things a stale
finder cache can hide, so imports resolve as with the stock worker.

If the PySpark names this module replaces or reads are missing (a
different PySpark), it runs the stock daemon unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys


def _install() -> None:
    """Swap the conditional flush into the worker module the daemon
    runs; change nothing when a needed name is missing."""
    try:
        from pyspark import daemon, worker_util
        from pyspark.core.files import SparkFiles

        worker_module = sys.modules[daemon.worker_main.__module__]
        read_int, add_path = worker_util.read_int, worker_util.add_path
        utf8, remote_only = worker_util.utf8_deserializer, worker_util.is_remote_only
    except (ImportError, AttributeError, KeyError):
        return
    if not hasattr(worker_module, "setup_spark_files"):
        return

    flushed = None  # (sys.path, SparkFiles names) at this worker's last flush

    def setup_spark_files(infile) -> None:
        # pyspark.worker_util.setup_spark_files, flushing only on change
        nonlocal flushed
        spark_files_dir = utf8.loads(infile)
        if not remote_only():
            SparkFiles._root_directory = spark_files_dir
            SparkFiles._is_running_on_worker = True
        add_path(spark_files_dir)
        for _ in range(read_int(infile)):
            add_path(os.path.join(spark_files_dir, utf8.loads(infile)))
        try:
            names = frozenset(os.listdir(spark_files_dir))
        except OSError:
            names = None
        state = (tuple(sys.path), names)
        if state != flushed:
            importlib.invalidate_caches()
            flushed = state

    worker_module.setup_spark_files = setup_spark_files


def main() -> None:
    from pyspark import daemon

    _install()
    daemon.manager()


if __name__ == "__main__":
    main()
