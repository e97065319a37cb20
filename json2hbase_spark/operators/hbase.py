"""a5_hbase_sink / a6_rowkey_derive — HBase-side semantics (SURVEY.md §2 A5/A6).

Row keys: HBase performance lives and dies by rowkey design; a
monotonically increasing key hot-spots one region. The canonical fix is
a short salt prefix derived from a stable hash of the natural key, which
spreads writes across regions while keeping per-entity scans cheap.

Sink: this sandbox has no HBase (SURVEY.md §0), so the sink is emulated
with HBase's physical contract preserved: cells are partitioned into N
"regions", each a contiguous rowkey range, and sorted by (rowkey, cf,
qualifier) within each region — exactly the layout an HFile bulk-load
produces. On a real cluster, swap `write_hbase_emulated` for the
hbase-spark DataSource (``df.write.format("org.apache.hadoop.hbase.spark")``)
or a ``foreachPartition`` + HBase client batched-Put writer; the
partitioning and sorting stages stay identical, which is the part that
matters at 100 TB (bulk-load wants sorted runs, Put-storms want
region-aligned batches).

Region boundaries: a real bulk load partitions on the table's region
start keys; it does not sample the data it writes. Salted keys get the
same treatment here. ``derive_rowkey(..., salt_len=L)`` tags its column
with ``hbase.salt_len`` metadata, and ``prepare_hbase_cells`` pre-splits
such keys on the salt's hex key space, as HBase's ``RegionSplitter``
pre-splits a hashed-key table with ``HexStringSplit``: no Spark job runs
before the shuffle, and a salted table's boundaries are a stable
property of the table rather than re-sampled on every write. Unsalted
keys have an unknown key space, so they keep Spark's sampled range
partitioning, which costs one extra job that evaluates the input (JSON
scan and flatten included) a second time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_LEN_KEY = "hbase.salt_len"  # column metadata: hex salt chars leading the rowkey
MAX_SPLIT_CHARS = 8  # salt chars the pre-split looks at


def derive_rowkey(
    *parts: Column | str,
    sep: str = "#",
    salt_len: int = 0,
) -> Column:
    """Compose an HBase rowkey from natural-key parts.

    ``salt_len > 0`` prepends the first ``salt_len`` hex chars of
    ``md5(natural_key)`` so sequential keys spread across regions
    (16**salt_len buckets) while per-entity scans stay cheap. The
    salted column is named ``rowkey`` (so an unaliased
    ``select(derive_rowkey(...))`` yields a ``rowkey`` column) and
    carries ``{SALT_LEN_KEY: salt_len}`` metadata, which tells
    ``prepare_hbase_cells`` to pre-split on the salt. Spark keeps the
    metadata through ``withColumn``, ``select`` and renames, and drops
    it with any expression that changes the value.
    """
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    natural = F.concat_ws(sep, *[c.cast("string") for c in cols])
    if salt_len <= 0:
        return natural
    salt = F.substring(F.md5(natural), 1, salt_len)
    return F.concat(salt, F.lit(sep), natural).alias("rowkey", metadata={SALT_LEN_KEY: salt_len})


def salt_split_keys(salt_len: int, n_regions: int) -> list[str]:
    """``HexStringSplit`` over the salt: the ``n_regions - 1`` boundaries
    ``ceil(i * 16**L / n_regions)`` of the first ``L = min(salt_len,
    MAX_SPLIT_CHARS)`` hex chars, as L-digit lowercase hex. Duplicates
    and the end of the key space are dropped, so with more regions than
    salt values the last regions stay empty."""
    width = min(salt_len, MAX_SPLIT_CHARS)
    space = 16**width
    bounds = sorted({-(-i * space // n_regions) for i in range(1, n_regions)} - {space})
    return [f"{b:0{width}x}" for b in bounds]


def _region_sql(splits: list[str]) -> str:
    """SQL for the number of ``splits`` <= ``rowkey``, as a balanced CASE
    tree (NULL keys go to region 0, where they sort first). Split keys
    are hex digits, so they need no quoting care."""

    def tree(lo: int, hi: int) -> str:  # the region in [lo, hi]
        if lo == hi:
            return str(lo)
        mid = (lo + hi + 1) // 2
        below, above = tree(lo, mid - 1), tree(mid, hi)
        return f"CASE WHEN `rowkey` < '{splits[mid - 1]}' THEN {below} ELSE {above} END"

    return f"CASE WHEN `rowkey` IS NULL THEN 0 ELSE {tree(0, len(splits))} END"


def prepare_hbase_cells(kv: DataFrame, n_regions: int = 16) -> DataFrame:
    """Physical-layout stage of the sink: region-partition + sort.

    Input: (rowkey, cf, qualifier, value) long format from kv_flatten.
    Output: same rows in ``n_regions`` partitions, partition *r* holding
    region *r*'s contiguous rowkey range, sorted by (rowkey, cf,
    qualifier) within partitions — HFile-ready order.

    A rowkey tagged ``SALT_LEN_KEY`` (``derive_rowkey(...,
    salt_len>0)``) goes to the region whose ``salt_split_keys`` range
    holds it, by ``repartitionById``: the boundaries are known before
    the data is read, so no job runs before the shuffle. String order
    keeps every region a contiguous key range for any string, so a
    mis-tagged key can cost balance, never order. An untagged rowkey
    is range-partitioned on bounds Spark samples first, in an extra job
    that evaluates ``kv`` (its scan and flatten) a second time.
    """
    salt_len = kv.schema["rowkey"].metadata.get(SALT_LEN_KEY, 0)
    if salt_len > 0:
        region = F.expr(_region_sql(salt_split_keys(salt_len, n_regions)))
        parted = kv.repartitionById(n_regions, region)
    else:
        parted = kv.repartitionByRange(n_regions, "rowkey")
    return parted.sortWithinPartitions("rowkey", "cf", "qualifier")


def write_hbase_emulated(kv: DataFrame, path: str, n_regions: int = 16) -> None:
    """Emulated sink: write the HFile-ordered cells as parquet, one file
    per non-empty region (``part-<r>``)."""
    prepare_hbase_cells(kv, n_regions).write.mode("overwrite").parquet(path)


class HBaseClient:
    """Client interface the ``foreachPartition`` writer drives — the
    seam where a real deployment plugs in happybase / the HBase Thrift
    or Java client. One instance per partition task, created ON THE
    EXECUTOR by the injected factory (clients hold sockets and must
    never be pickled from the driver).
    """

    def put_batch(self, cells: list[tuple[str, str, str, str]]) -> None:
        """Write a batch of (rowkey, cf, qualifier, value) cells."""
        raise NotImplementedError

    def close(self) -> None:  # noqa: B027 — optional hook
        pass


def write_hbase_foreach(
    kv: DataFrame,
    client_factory,
    batch_size: int = 500,
    n_regions: int = 16,
    max_retries: int = 0,
    backoff_s: float = 0.0,
) -> None:
    """Client-path sink: region-partition + sort (same physical stages
    as the bulk-load path — region-aligned sorted runs are what keep a
    Put-storm from hot-spotting one region server), then stream each
    partition through an ``HBaseClient`` in bounded batches.

    ``client_factory``: zero-arg callable, executed per partition on
    the executor, returning an ``HBaseClient``. Batches are bounded so
    executor memory stays flat regardless of partition size.

    ``max_retries``: per-BATCH retries on a raised ``put_batch``
    (region-server Puts fail transiently on splits/moves); the whole
    batch is re-sent, so Puts must be idempotent — true for HBase,
    where a Put is a cell version upsert. Exhausted retries re-raise,
    failing the task so Spark's task-level retry takes over (the
    partition re-runs from the sorted shuffle output, not the source).
    """
    cells = prepare_hbase_cells(kv, n_regions).select(
        "rowkey", "cf", "qualifier", "value"
    )

    def _write_partition(rows) -> None:
        import time as _time

        client = client_factory()

        def _flush(batch: list[tuple[str, str, str, str]]) -> None:
            for attempt in range(max_retries + 1):
                try:
                    client.put_batch(batch)
                    return
                except Exception:
                    if attempt == max_retries:
                        raise
                    if backoff_s:
                        _time.sleep(backoff_s * (2**attempt))

        batch: list[tuple[str, str, str, str]] = []
        try:
            for r in rows:
                batch.append((r["rowkey"], r["cf"], r["qualifier"], r["value"]))
                if len(batch) >= batch_size:
                    _flush(batch)
                    batch = []
            if batch:
                _flush(batch)
        finally:
            client.close()

    cells.foreachPartition(_write_partition)
