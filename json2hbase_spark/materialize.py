"""DataFrame materialization: cut a table from its lineage so later
plans read the result instead of re-running the subtree.

Why: several operators (MinHash banding, SimHash, dup-components'
edge set, incremental dedup's shingle table, k-means centroids) must
materialize an intermediate so (a) self-joins don't recompute an
HOF-lambda subtree per side (ReuseExchange can't match those plans)
and (b) iterative loops keep a flat plan.

One rule picks the primitive: Spark's own checkpoint dir.

- With a checkpoint dir set, ``materialize`` runs a reliable
  ``checkpoint(eager=True)`` into it. A cluster sets the dir with
  ``spark.checkpoint.dir`` or ``sc.setCheckpointDir`` at submit time
  (HDFS/S3); the files survive executor loss, which a 100 TB run
  needs. Spark's ``spark.cleaner.referenceTracking.cleanCheckpoints``
  decides whether the files are deleted once the driver drops the
  table; by default they stay in the deployment's dir.
- With none, it runs ``localCheckpoint(eager=True)``: in executor
  memory, no config, fastest on one host, but a lost executor cannot
  replay the truncated lineage.

Size hint: the table comes back ``F.broadcast``-hinted when the bytes
just written are at most the session's
``spark.sql.autoBroadcastJoinThreshold`` — Spark's own broadcast rule,
applied to an exact size. A checkpointed table otherwise keeps the size
estimate of the plan it came from (847 MB for a 74-row edge table), so
a join against it would plan a sort-merge join. The size is read
without a job: a local checkpoint sums its RDD's block sizes from the
block manager master, a reliable one reads the checkpoint files'
length. A larger table, or any table with the threshold at -1, comes
back unhinted and its joins are Spark's decision.

``broadcast_hinted(df)`` reads that decision back: it is True when the
root of ``df``'s analyzed plan is the broadcast hint ``materialize``
added, so a caller branches on the same exact size without measuring
it a second way. A table that fits the threshold is one Spark would
already collect onto the driver to broadcast it, so a caller may also
collect it and finish the work in Python (j47's PageRank does) without
holding more on the driver than a broadcast join would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cleanup_materialized() -> None:
    """Let go of materialized tables the caller no longer references.
    Spark's ContextCleaner removes a local checkpoint's blocks once the
    driver drops the DataFrame; ``gc.collect()`` makes that drop happen
    now, so long sessions do not ride on Python GC timing."""
    import gc

    gc.collect()


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a DataFrame whose plan reads
    the result with a flat lineage: a reliable checkpoint when the
    SparkContext has a checkpoint dir, a local one when it has none;
    broadcast-hinted when it fits the session's broadcast threshold
    (module docstring)."""
    reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    out = df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)
    threshold = out.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = _written_bytes(out, reliable, threshold)
    return F.broadcast(out) if size is not None and size <= threshold else out


def _written_bytes(out: DataFrame, reliable: bool, limit: int) -> int | None:
    """Bytes ``materialize`` wrote for ``out``, read without a job; for
    a local checkpoint, summed only until they pass ``limit``, and None
    when a block is missing."""
    sc = out.sparkSession.sparkContext
    rdd = out._jdf.queryExecution().analyzed().rdd()
    if reliable:
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
