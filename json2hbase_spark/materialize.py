"""Pluggable DataFrame materialization (cut lineage / break subtree
re-execution) with a durability strategy switch.

Why: several operators (MinHash banding, SimHash, dup-components'
edge set, incremental dedup's shingle table, k-means centroids) must
materialize an intermediate so (a) self-joins don't recompute an
HOF-lambda subtree per side (ReuseExchange can't match those plans)
and (b) iterative loops keep a flat plan. ``localCheckpoint`` is the
right local primitive (in-memory, truncates lineage, no config), but
it is executor-local and non-replicated: on a real cluster a lost
executor makes the job unrecoverable because the truncated lineage
cannot be replayed. At 100 TB the materialization must be durable.

Strategies (select via ``SPARK_GRAFT_MATERIALIZE`` or per-call):

- ``local``      — ``localCheckpoint(eager)``. Default for the local
                   harness: fastest, zero config, NOT fault-tolerant.
- ``checkpoint`` — reliable ``checkpoint(eager)`` into
                   ``spark.sparkContext.getCheckpointDir()`` (HDFS/S3
                   on a cluster; a temp dir is auto-set locally).
                   Survives executor loss — the 100 TB default.
- ``persist``    — ``persist(DISK_ONLY_2)`` + count(): 2-replica
                   block-manager copy; cheaper than a checkpoint
                   write, survives single-executor loss, lineage kept
                   (re-derivable after catastrophic loss).

Size hint: every strategy returns the table ``F.broadcast``-hinted when
the bytes it just wrote are at most the session's
``spark.sql.autoBroadcastJoinThreshold`` — Spark's own broadcast rule,
applied to an exact size. A checkpointed table otherwise keeps the size
estimate of the plan it came from (847 MB for a 74-row edge table), so
a join against it would plan a sort-merge join. The size is read
without a job: ``local`` sums the checkpoint RDD's block sizes from the
block manager master, ``checkpoint`` the checkpoint files' length, and
``persist`` the loaded cache's own statistics. A larger table, or any
table with the threshold at -1, comes back unhinted and its joins are
Spark's decision.

``broadcast_hinted(df)`` reads that decision back: it is True when the
root of ``df``'s analyzed plan is the broadcast hint ``materialize``
added, so a caller branches on the same exact size without measuring
it a second way. A table that fits the threshold is one Spark would
already collect onto the driver to broadcast it, so a caller may also
collect it and finish the work in Python (j47's PageRank does) without
holding more on the driver than a broadcast join would.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json2hbase_spark.scratch import scratch_dir

_VALID = ("local", "checkpoint", "persist")

# Lifecycle registry: long-lived sessions (or real clusters) must not
# accumulate cached blocks / checkpoint files across queries. Every
# persist() and every auto-created checkpoint dir is tracked here;
# cleanup_materialized() releases them once the consuming action is
# done (bench.py calls it per query; tests use materialization_scope).
_persisted: list[DataFrame] = []
_created_ckpt_dirs: list[str] = []


def cleanup_materialized(remove_checkpoint_dirs: bool = False) -> None:
    """Unpersist every DataFrame cached by the 'persist' strategy and
    (optionally) delete checkpoint dirs this module auto-created.
    Safe after the consuming action: 'persist' keeps lineage so a late
    re-use just recomputes; call with remove_checkpoint_dirs=True only
    at end-of-session because 'checkpoint' plans read those files.
    NOTE: 'local' (localCheckpoint) blocks are NOT released here —
    Spark's ContextCleaner unpersists them once the driver drops the
    DataFrame reference; gc.collect() below accelerates that drop so
    long sessions do not ride on Python GC timing."""
    import gc

    gc.collect()
    while _persisted:
        df = _persisted.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped
    if remove_checkpoint_dirs:
        while _created_ckpt_dirs:
            shutil.rmtree(_created_ckpt_dirs.pop(), ignore_errors=True)


@contextlib.contextmanager
def materialization_scope():
    """Context manager releasing persists created inside the scope."""
    mark = len(_persisted)
    try:
        yield
    finally:
        while len(_persisted) > mark:
            df = _persisted.pop()
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass


atexit.register(cleanup_materialized, remove_checkpoint_dirs=True)


def strategy_from_env() -> str:
    s = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if s not in _VALID:
        raise ValueError(f"SPARK_GRAFT_MATERIALIZE must be one of {_VALID}, got {s!r}")
    return s


def materialize(df: DataFrame, strategy: str | None = None) -> DataFrame:
    """Materialize ``df`` now and return a DataFrame whose plan reads
    the materialized result (flat lineage for 'local'/'checkpoint';
    cached-with-lineage for 'persist'), broadcast-hinted when it fits
    the session's broadcast threshold (module docstring)."""
    s = strategy or strategy_from_env()
    if s == "local":
        out = df.localCheckpoint(eager=True)
    elif s == "checkpoint":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            # local fallback; clusters set a durable dir (HDFS/S3) via
            # sc.setCheckpointDir at submit time. Tracked so
            # cleanup_materialized(remove_checkpoint_dirs=True) can
            # reclaim the files at end-of-session.
            d = scratch_dir("json2hbase_ckpt_")
            _created_ckpt_dirs.append(d)
            sc.setCheckpointDir(d)
        out = df.checkpoint(eager=True)
    elif s == "persist":
        out = df.persist(StorageLevel.DISK_ONLY_2)
        out.count()  # force the write so downstream reuse hits the cache
        _persisted.append(out)
    else:
        raise ValueError(f"unknown materialization strategy {s!r}")
    threshold = out.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = _written_bytes(out, s, threshold)
    return F.broadcast(out) if size is not None and size <= threshold else out


def _written_bytes(out: DataFrame, strategy: str, limit: int) -> int | None:
    """Bytes ``materialize`` wrote for ``out``, read without a job; for
    'local', summed only until they pass ``limit``, and None when a
    block is missing."""
    if strategy == "persist":
        # a fresh plan over the loaded cache carries its exact size
        return out.select("*")._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    sc = out.sparkSession.sparkContext
    rdd = out._jdf.queryExecution().analyzed().rdd()
    if strategy == "checkpoint":
        path = sc._jvm.org.apache.hadoop.fs.Path(rdd.getCheckpointFile().get())
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        return fs.getContentSummary(path).getLength()
    # the block manager master's own block table, which executors update
    # before a task ends; getRDDStorageInfo reads the UI status store,
    # which the listener bus fills later and can still miss the blocks
    master = sc._jsc.sc().env().blockManager().master()
    block_id = sc._jvm.org.apache.spark.storage.RDDBlockId
    rdd_id, total = rdd.id(), 0
    for p in range(rdd.getNumPartitions()):
        found = master.getLocationsAndStatus(block_id(rdd_id, p), "")
        if found.isEmpty():
            return None
        status = found.get().status()
        total += status.memSize() + status.diskSize()
        if total > limit:
            break
    return total


def broadcast_hinted(df: DataFrame) -> bool:
    """True when ``df`` carries ``materialize``'s broadcast hint at the
    root of its analyzed plan: its written bytes are at most the
    session's broadcast threshold."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "ResolvedHint":
        return False
    strategy = plan.hints().strategy()
    return strategy.isDefined() and strategy.get().toString() == "broadcast"
