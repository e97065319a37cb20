"""a5_hbase_sink / a6_rowkey_derive — HBase-side semantics (SURVEY.md §2 A5/A6).

Row keys: HBase performance lives and dies by rowkey design; a
monotonically increasing key hot-spots one region. The canonical fix is
a short salt prefix derived from a stable hash of the natural key, which
spreads writes across regions while keeping per-entity scans cheap.

Sink: this sandbox has no HBase (SURVEY.md §0), so the sink is emulated
with HBase's physical contract preserved: cells are range-partitioned by
rowkey into N "regions" and sorted by (rowkey, cf, qualifier) within
each region — exactly the layout an HFile bulk-load produces. On a real
cluster, swap `write_hbase_emulated` for the hbase-spark DataSource
(``df.write.format("org.apache.hadoop.hbase.spark")``) or a
``foreachPartition`` + HBase client batched-Put writer; the partitioning
and sorting stages stay identical, which is the part that matters at
100 TB (bulk-load wants sorted runs, Put-storms want region-aligned
batches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def derive_rowkey(
    *parts: Column | str,
    sep: str = "#",
    salt_len: int = 0,
) -> Column:
    """Compose an HBase rowkey from natural-key parts.

    ``salt_len > 0`` prepends the first ``salt_len`` hex chars of
    ``md5(natural_key)`` so sequential keys spread across regions
    (16**salt_len buckets) while per-entity scans stay cheap.
    """
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    natural = F.concat_ws(sep, *[c.cast("string") for c in cols])
    if salt_len <= 0:
        return natural
    salt = F.substring(F.md5(natural), 1, salt_len)
    return F.concat(salt, F.lit(sep), natural)


def region_bucket(rowkey: Column, n_regions: int = 16) -> Column:
    """Stable region assignment for a rowkey (emulates HBase region
    split points via hash ranges)."""
    return F.abs(F.xxhash64(rowkey)) % n_regions


def prepare_hbase_cells(kv: DataFrame, n_regions: int = 16) -> DataFrame:
    """Physical-layout stage of the sink: region-partition + sort.

    Input: (rowkey, cf, qualifier, value) long format from kv_flatten.
    Output: same rows, range-partitioned into ``n_regions`` and sorted by
    (rowkey, cf, qualifier) within partitions — HFile-ready order.
    """
    return (
        kv.repartitionByRange(n_regions, "rowkey")
        .sortWithinPartitions("rowkey", "cf", "qualifier")
    )


def write_hbase_emulated(kv: DataFrame, path: str, n_regions: int = 16) -> None:
    """Emulated sink: write the HFile-ordered cells as parquet."""
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
