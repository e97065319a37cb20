"""Table loaders for the driver fixtures (SURVEY.md §1.2, a1/a7 scans).

All ten tables are single parquet files per scale-factor directory.
At 100 TB these would be partitioned datasets (e.g. orders/lineitem
partitioned by date); ``load`` takes any path Spark's parquet source
accepts, so the same call works on a partitioned directory — partition
pruning and predicate pushdown then come free from Catalyst.

Schema memo: a parquet read without a schema runs one footer-inference
job. ``parquet_schema`` infers a local file's schema once per process,
keyed on its realpath, inode, mtime and size and on the confs inference
reads, and every loader reads with it. A directory or a remote URI (a
partitioned dataset on a cluster) is inferred by Spark on every call;
the answer there is a catalog table, not this memo.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _events_confs(spark: SparkSession) -> None:
    # Fixture generations have stored events.ts as INT64 TIMESTAMP(NANOS)
    # (which Spark's parquet reader rejects without nanosAsLong) or as
    # plain timestamp[us]. Enable the legacy read so both load; UTC
    # session tz keeps timestamp wall-clock aligned with the DuckDB
    # oracle (naive reads).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to session-tz TIMESTAMP regardless of how the
    fixture generation encoded it: INT64 nanos → µs truncation (matches
    DuckDB TIMESTAMP_NS::TIMESTAMP); parquet timestamp[us] (inferred as
    TIMESTAMP_NTZ by Spark 4) → same wall clock in the UTC session tz,
    identical to DuckDB's naive read."""
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if t == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def widen(df: DataFrame) -> DataFrame:
    """Repartition up to default parallelism when the upstream scan
    yields fewer splits than cores. The local fixtures are single
    parquet files under maxPartitionBytes → ONE scan partition, so any
    fan-out work downstream (shingling, tokenizing, per-row hashing)
    would run on one thread; a real cluster's scan already yields
    >> cores splits and this is a no-op. Only wrap compute-heavy
    per-row pipelines — a blanket repartition in ``load`` would inject
    a shuffle into every plan."""
    if df.isStreaming:
        # .rdd is unsupported on a streaming DataFrame; micro-batch
        # parallelism is governed by maxFilesPerTrigger/source splits.
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


# Confs that parquet schema inference reads: each can change the schema.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schemas: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized for a
    local file (see the module docstring)."""
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_ino, st.st_mtime_ns, st.st_size)
    key += tuple(spark.conf.get(c) for c in _INFER_CONFS)
    # No lock: threads racing on a miss infer and store the same value.
    schema = _schemas.get(key)
    if schema is None:
        schema = _schemas[key] = spark.read.parquet(path).schema
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """a1_parquet_scan: columnar scan of one fixture table."""
    if name == "events":
        _events_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return _normalize_events_ts(df) if name == "events" else df


def _stage_symlink(link: str, src: str) -> None:
    """Idempotent, race-safe symlink staging: lexists (not exists)
    catches dangling links left by a removed/renamed sf_dir, a stale
    or wrong-target link is replaced, and the create is wrapped for
    the window where a concurrent session links first."""
    if os.path.lexists(link):
        try:
            if os.readlink(link) == src and os.path.exists(link):
                return
        except OSError:
            pass
        try:
            os.unlink(link)
        except IsADirectoryError:
            # a real directory at the staged path (leftover from an
            # older layout) — replace it
            shutil.rmtree(link, ignore_errors=True)
        except OSError:
            pass  # e.g. EPERM — the symlink create below surfaces it
    try:
        os.symlink(src, link)
    except FileExistsError:
        # Acceptable only if a concurrent session raced us to the SAME
        # target; a stale entry that survived a failed unlink must not
        # be served silently.
        try:
            if os.readlink(link) == src:
                return
        except OSError:
            pass
        raise


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a8_stream_source: the events table as an unbounded streaming
    source, with the same ns→µs conversion as the batch path so
    stream/batch plans are equivalent."""
    _events_confs(spark)
    return _normalize_events_ts(_staged_stream(spark, sf_dir, "events"))


def load_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Any fixture table as an unbounded streaming source. The file
    source needs an explicit schema, which comes from
    ``parquet_schema`` (the i-family runs dozens of streaming queries
    against the same fixtures), and a directory, so the table is staged
    behind a temp dir of symlinks (no data copy)."""
    return _staged_stream(spark, sf_dir, table)


def _staged_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # Shared body. load_events_stream does not go through
    # load_table_stream, so a caller timing both counts a stream once.
    src = f"{sf_dir}/{table}.parquet"
    raw_schema = parquet_schema(spark, src)
    st = os.stat(src)
    # Generation-keyed stage dir (mtime/size): each fixture generation
    # stages into its own directory, so the stale-entry cleanup below
    # only ever handles SAME-generation re-stages and concurrent
    # sessions can't delete each other's links (ADVICE r9).
    tag = sf_dir.strip("/").replace("/", "_")
    gen = f"{st.st_mtime_ns:x}_{st.st_size:x}"
    stage = os.path.join(
        tempfile.gettempdir(), f"json2hbase_stream_{table}_{tag}_{gen}"
    )
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(src):
        # a real (directory-shaped) parquet table: the file stream
        # source lists the stage dir NON-recursively, so a symlinked
        # subdirectory would read as zero files — link each data file
        # into the stage dir instead (still no data copy).
        names = [f for f in os.listdir(src) if f.endswith(".parquet")]
        links = {f: os.path.join(src, f) for f in names}
    else:
        links = {f"{table}.parquet": src}
    # The stage dir is deterministic and persists across runs: a
    # re-generated fixture changes Spark part-file names every write,
    # so entries from the PREVIOUS generation (dangling links, or a
    # file-shaped '<table>.parquet' link from a prior source shape)
    # would make the stream fail on dangling files or read the table
    # twice (ADVICE r8). Drop anything not in the current source set.
    for f in os.listdir(stage):
        if f.endswith(".parquet") and f not in links:
            try:
                os.unlink(os.path.join(stage, f))
            except OSError:
                pass
    for f, target in sorted(links.items()):
        _stage_symlink(os.path.join(stage, f), target)
    return spark.readStream.schema(raw_schema).parquet(stage)


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register fixture tables as temp views for the SQL path
    (SURVEY.md §3.4) — needed for GROUPING SETS and SQL-expressed ops.
    Pass ``only`` to register just the tables a query touches: each
    registration builds and analyzes a plan (the first per table also
    infers its schema), work a hot query shouldn't pay for unused views."""
    for name in only if only is not None else TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
