"""SparkSession builder with engine defaults (SURVEY.md §7 slice 0).

Defaults are chosen for correctness + scale posture:
- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- CBO on (join reordering when stats exist)
- UTC session timezone (deterministic timestamp semantics vs the
  DuckDB oracle, which reads parquet timestamps as naive wall-clock)
- shuffle partitions sized for the local harness; at cluster scale AQE
  coalesces / splits from this initial number.

Python workers run under the engine's daemon module,
``json2hbase_spark.pyworker`` (``spark.python.daemon.module``). The
stock PySpark 4.1 worker calls ``importlib.invalidate_caches()`` at
the start of every task, reused workers included, and on Python 3.11
that makes each ``zipimporter`` on ``sys.path`` re-read its archive
directory: 16 of them in a reused worker, over ``pyspark.zip`` (1,328
entries), py4j's zip and the ``spark-core`` jar (5,359 entries) Spark
puts on the worker ``PYTHONPATH``. Measured inside a worker at
``local[4]``: 170-210 ms per flush, 180-320 ms of ``setup_spark_files``
per task. The engine's daemon flushes only when ``sys.path`` or the
SparkFiles root changed since the worker's last flush, which is when
an ``addPyFile``/``addFile`` could have made a new module importable.
This reaches every Python-UDF, pandas-UDF, Arrow and stateful-streaming
task (the k, l and m families, i6).

- The daemon is imported by module name in a fresh interpreter, so
  ``spark.executorEnv.PYTHONPATH`` carries the package's parent
  directory. Without it a session started outside the repo with
  ``PYTHONPATH`` unset fails every Python UDF
  (``ModuleNotFoundError: json2hbase_spark`` in the daemon).
- On a cluster the executors need the package importable at that path
  or through their own ``PYTHONPATH``; the engine's by-reference UDFs
  already require it.
- Both are static confs, set only by ``get_spark``. A session the
  caller supplies, passed through ``apply_engine_confs``, keeps the
  stock daemon.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Arrow for any pandas-UDF path (K ops) and toPandas in tests.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Static confs: only effective at JVM start (builder path); silently
# skipped by apply_engine_confs on an already-running session.
STATIC_CONFS: dict[str, str] = {
    # local[32] runs executors inside the driver JVM, whose default
    # heap is 1 GB regardless of box RAM — fine at sf0.1, found fatal
    # by tools/scale_probe.py at 10x (executor-side OOM in a plain
    # explode+agg). Size the heap to the host: half its physical
    # memory, at most 48 GB. A ceiling above what the host holds lets
    # the heap grow until the kernel kills the JVM instead of
    # collecting. A real cluster sets spark.executor.memory per node.
    "spark.driver.memory": "%dm"
    % min(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // 2**20,
        48 * 1024,
    ),
    # Python workers flush import caches only when something
    # importable changed (see module docstring and pyworker.py); the
    # daemon is imported by module name, so the package's parent
    # directory goes on every worker's PYTHONPATH.
    "spark.python.daemon.module": "json2hbase_spark.pyworker",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def get_spark(app_name: str = "json2hbase_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the local harness; on a real cluster leave unset and submit via
    spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**STATIC_CONFS, **ENGINE_CONFS}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STREAM_START_LOCK = threading.Lock()
STREAM_PARTITIONS = "4"


def run_stream(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` under the engine's streaming confs, wait for it
    to terminate and return the query.

    - ``spark.sql.shuffle.partitions`` is ``STREAM_PARTITIONS`` (4). A
      new checkpoint pins its state-partition count to this value, and
      each partition forks an Arrow worker and a state store, which
      dominates a local micro-batch (i6 at sf0.01 on ``local[4]``,
      median of 3 warm runs: 3.6 s at 32 partitions, 1.3 s at 4). On
      a cluster raise it to the executor-core count.
    - The state store is RocksDB (SURVEY §3.5's at-scale choice: state
      spills to local disk instead of executor heap, incremental
      checkpoints). Its provider class ships in Spark's own
      ``spark-sql`` jar.

    A stream reads both confs once, when ``start()`` clones the session
    for its execution thread; its checkpoint offsets record them. So
    the confs are set only around ``start()`` and then restored, an
    unset conf to unset. Session confs are shared by every thread, so
    the start is serialized behind a lock, and the run is not: the
    caller waits in ``awaitTermination()`` with the lock released. A
    query another thread plans during a ``start()`` still sees these
    confs; its results do not depend on them. The query runs on the
    caller's session, so listeners registered there
    see its progress events (a ``spark.newSession()`` child would keep
    its confs private, but its queries post no events to them).
    """
    confs = {
        "spark.sql.shuffle.partitions": STREAM_PARTITIONS,
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    }
    with _STREAM_START_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            q = writer.start()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    q.awaitTermination()
    return q


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-provided
    session (the driver supplies its own SparkSession to entry()/queries())."""
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs can't change post-start; defaults are fine
    return spark
