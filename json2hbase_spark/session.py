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
from contextlib import contextmanager

from pyspark.sql import SparkSession

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
    # explode+agg). Size the heap to the harness box; a real cluster
    # sets spark.executor.memory per node instead.
    "spark.driver.memory": "48g",
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
_STREAM_CONF_LOCK = threading.RLock()
_rocksdb_available: bool | None = None


def rocksdb_available(spark: SparkSession) -> bool:
    """True when the RocksDB state-store provider class is on the
    classpath (bundled with stock Spark 4; absent in stripped builds)."""
    global _rocksdb_available
    if _rocksdb_available is None:
        try:
            spark._jvm.java.lang.Class.forName(ROCKSDB_PROVIDER)  # type: ignore[union-attr]
            _rocksdb_available = True
        except Exception:
            _rocksdb_available = False
    return _rocksdb_available


@contextmanager
def scoped_bounded_chain(spark: SparkSession, partitions: str | None = None):
    """Conf scope for DIMENSION-BOUNDED iteration chains (round 14,
    VERDICT r13 #4): the power-iteration / deflation / Gram-Schmidt
    chains operate on ≤ d² = 4096-row tables at ANY corpus size (the
    one corpus-sized pass — the covariance aggregation — only has its
    REDUCE side resized here, and that side is d²-row bounded too; the
    map side scales with the input scan regardless of this conf). The
    right shuffle-partition count for those stages is set by the
    DOMAIN, not the cluster: 32+ partitions of a 64-row table is pure
    task fan-out, measured ~15% of j127's runtime locally (and every
    localCheckpoint in the chain inherits the count for each later
    scan). Parameterised via SPARK_GRAFT_BOUNDED_PARTITIONS (default
    8) — a cluster tunes it independently of the session default.
    Serialised behind the same lock as every conf scope (session
    confs are global state). Only the chain's EAGER actions plan
    inside the scope; plans built here but executed later pick up the
    session default at action time."""
    parts = partitions or os.environ.get("SPARK_GRAFT_BOUNDED_PARTITIONS", "8")
    with _STREAM_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextmanager
def scoped_stream_confs(spark: SparkSession, partitions: str | None = None):
    """Conf scope for one streaming run (restored on exit).

    - ``spark.sql.shuffle.partitions`` → 4 locally: the state-partition
      count is pinned at checkpoint creation and each partition forks an
      Arrow worker / state store, which dominates a local micro-batch
      (i6 at sf0.01 on ``local[4]``, median of 3 warm runs: 3.6 s at 32
      partitions → 1.3 s at 4; 6.9 s → 1.9 s under the stock daemon,
      which also flushed import caches in each task). On a real
      cluster pass ``partitions=None`` and set the session default to
      the executor-core count instead — the scope still guarantees the
      caller's conf is untouched.
    - RocksDB state store (SURVEY §3.5's at-scale choice: state spills
      to local disk instead of executor heap, incremental checkpoints)
      whenever the provider class is present; falls back silently to the
      default HDFS-backed in-memory provider when not.
    """
    # Session confs are GLOBAL mutable state: two scopes interleaving
    # from different driver threads (e.g. the guide-§2.6 overlapping
    # pattern, or the round-14 threaded plan-fingerprint sweep) would
    # capture each other's in-scope values as "prev" and leak them on
    # exit (observed: RocksDB provider left set session-wide). The
    # re-entrant lock serializes whole scopes — semantically required,
    # not just hygiene.
    with _STREAM_CONF_LOCK:
        parts = partitions or os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        prev_prov = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        )
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        if rocksdb_available(spark):
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
            )
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_prov
            )


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-provided
    session (the driver supplies its own SparkSession to entry()/queries())."""
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs can't change post-start; defaults are fine
    return spark
