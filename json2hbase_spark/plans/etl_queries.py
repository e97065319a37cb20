"""A-ops: scans / sources / sinks (SURVEY.md §2 A1–A8).

These re-express the reference json2hbase pipeline Spark-first:
``read.json → kv_flatten → rowkey_derive → hbase sink`` plus the
relational-scan surface the engine needs. Each query is paired with a
DuckDB oracle twin where SQL-expressible.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json2hbase_spark.io import load
from json2hbase_spark.materialize import materialize
from json2hbase_spark.operators.flatten import kv_flatten
from json2hbase_spark.operators.hbase import derive_rowkey, prepare_hbase_cells
from json2hbase_spark.registry import query
from json2hbase_spark.scratch import scratch_dir

PEOPLE_JSONL = "/root/repo/fixtures/people.jsonl"
NATION_CSV = "/root/repo/fixtures/nation.csv"


@query(
    "a1_parquet_scan",
    oracle="""
    SELECT p_partkey, p_name, p_size
    FROM part
    WHERE p_size < 15
    """,
)
def a1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with predicate pushdown + column pruning: the
    filter and 3-column projection both reach the parquet reader
    (verify via .explain → PushedFilters / ReadSchema)."""
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") < 15)
        .select("p_partkey", "p_name", "p_size")
    )


@query(
    "a2_json_scan",
    oracle=f"""
    SELECT id, name, active, score, address.city AS city, len(tags) AS n_tags
    FROM read_json_auto('{PEOPLE_JSONL}')
    """,
)
def a2_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest with schema inference — the reference's input stage.
    Nested object access + array cardinality prove the inferred
    struct/array schema."""
    df = spark.read.json(PEOPLE_JSONL)
    return df.select(
        "id",
        "name",
        "active",
        "score",
        F.col("address.city").alias("city"),
        F.size("tags").alias("n_tags"),
    )


@query(
    "a3_kv_flatten",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS rowkey, 'd' AS cf,
           'doc.status' AS qualifier, o_orderstatus AS "value" FROM orders
    UNION ALL
    SELECT CAST(o_orderkey AS VARCHAR), 'd', 'doc.total',
           CAST(o_totalprice AS VARCHAR) FROM orders
    UNION ALL
    SELECT CAST(o_orderkey AS VARCHAR), 'd', 'doc.meta.date',
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders
    UNION ALL
    SELECT CAST(o_orderkey AS VARCHAR), 'd', 'doc.meta.priority',
           o_orderpriority FROM orders
    UNION ALL
    SELECT CAST(o_orderkey AS VARCHAR), 'd', 'doc.keys.0',
           CAST(o_custkey AS VARCHAR) FROM orders
    UNION ALL
    SELECT CAST(o_orderkey AS VARCHAR), 'd', 'doc.keys.1',
           CAST(o_orderkey AS VARCHAR) FROM orders
    """,
)
def a3_kv_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json2hbase core: nested document → HBase-cell long format.
    Builds a nested doc (struct + inner struct + array) from orders,
    then flattens with the recursive schema-walk operator — dotted
    paths, 0-based array indices, canonical string values."""
    orders = load(spark, sf_dir, "orders")
    docs = orders.select(
        F.col("o_orderkey").alias("rk"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
            F.struct(
                F.col("o_orderdate").cast("date").cast("string").alias("date"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("meta"),
            F.array(F.col("o_custkey"), F.col("o_orderkey")).alias("keys"),
        ).alias("doc"),
    )
    return kv_flatten(docs, "rk", cf="d")


@query(
    "a4_json_normalize",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def a4_json_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string column → typed columns (events.props)."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query("a5_hbase_sink")  # rows-only: the region layout has no DuckDB twin
def a5_hbase_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emulated HBase sink path: salted rowkey → flatten →
    region-partition → sort → write HFile-ordered parquet; returns the
    written cells + the region each was written to (one region per
    output file). The salt's split keys fix each cell's region, so the
    region is a function of the rowkey alone.
    Real deployment swaps the writer for the hbase-spark DataSource."""
    # deterministic slice (an unordered .limit() picks partition-order-
    # dependent rows; the filter selects the same rows on every run)
    events = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    docs = events.select(
        derive_rowkey("event_id", salt_len=2),
        F.struct(
            F.col("event_type").alias("type"),
            F.col("value").alias("value"),
            F.col("props").alias("props"),
        ).alias("e"),
    )
    kv = kv_flatten(docs, "rowkey", cf="e")
    cells = prepare_hbase_cells(kv, n_regions=16).withColumn("region", F.spark_partition_id())
    out_dir = scratch_dir("json2hbase_sink_")
    cells.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


@query(
    "a6_rowkey_derive",
    oracle="""
    SELECT c_custkey,
           substr(md5(CAST(c_custkey AS VARCHAR) || '#' || c_mktsegment), 1, 2)
             || '#' || CAST(c_custkey AS VARCHAR) || '#' || c_mktsegment AS rowkey
    FROM customer
    """,
)
def a6_rowkey_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted composite rowkey: hash-prefix salt spreads monotonically
    increasing keys across HBase regions (hot-spot avoidance)."""
    customer = load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        derive_rowkey("c_custkey", "c_mktsegment", salt_len=2).alias("rowkey"),
    )


@query(
    "a7_csv_scan",
    oracle=f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{NATION_CSV}', header = true)
    WHERE n_regionkey <= 2
    """,
)
def a7_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text ingest with an explicit schema."""
    df = spark.read.csv(
        NATION_CSV,
        header=True,
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
    )
    return df.filter(F.col("n_regionkey") <= 2)


@query(
    "a8_stream_source",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def a8_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming source: a REAL streaming query (file source →
    streaming aggregation → memory sink, availableNow trigger) whose
    final result must equal the batch plan on the same data."""
    from json2hbase_spark.io import load_events_stream
    from json2hbase_spark.plans.streaming_queries import _run_to_memory

    stream = load_events_stream(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return _run_to_memory(counts, "a8_stream_counts", "complete")


@query(
    "a9_partitioned_write",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    """,
)
def a9_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + read-back: documents written
    partitionBy(lang), then counted per partition from the files. At
    100 TB the partition layout IS the primary pruning index (a
    lang='en' filter reads only that directory — §4 partition
    pruning); locally the oracle checks the write/read round-trip
    loses nothing."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"j2h_docs_by_lang_{tag}")
    docs.write.partitionBy("lang").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "a10_jsonl_write",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def a10_jsonl_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL export sink + re-ingest round-trip: documents written as
    line-delimited JSON (the reference's input format), read back with
    schema inference, and aggregated — the oracle proves the
    write/parse cycle is lossless for the corpus columns."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"j2h_docs_jsonl_{tag}")
    docs.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@query(
    "a11_schema_evolution",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_rows,
           CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sum_chars
    FROM (
      SELECT lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1
    )
    GROUP BY lang
    """,
)
def a11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingestion: two parquet generations with different
    schemas (early files lack n_chars) land in one directory;
    mergeSchema unifies them, missing columns read as NULL. The oracle
    reproduces the generation split relationally. At 100 TB this is
    the read path for years of schema evolution without rewrites."""
    import os
    import shutil

    docs = load(spark, sf_dir, "documents")
    tag = sf_dir.strip("/").replace("/", "_")
    base = os.path.join(tempfile.gettempdir(), f"j2h_evolve_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
        os.path.join(base, "gen=1")
    )
    docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars").write.parquet(
        os.path.join(base, "gen=2")
    )
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").cast("bigint").alias("n_with_chars"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("sum_chars"),
    )


@query(
    "a12_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def a12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second columnar format: orders written to ORC and read back with
    a pushed filter — the aggregate over the round-tripped files must
    equal the aggregate over the parquet source (no loss/coercion
    through the format). ORC is the other first-class columnar source
    at 100 TB (Hive-era lakes); predicate pushdown and column pruning
    apply the same way as a1's parquet contract."""
    orders = load(spark, sf_dir, "orders")
    out = scratch_dir("j2h_orc_")
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("o_orderpriority") == "1-URGENT")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_price"
        ),
    )


@query(
    "a13_compaction",
    oracle="""
    SELECT CAST(4 AS INTEGER) AS n_files,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    """,
)
def a13_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the documents table written as 64 tiny
    files (the pathological layout streaming ingest produces), then
    compacted to 4 size-targeted files and read back — row count,
    distinct keys and a content checksum must survive both hops, and
    the observed file count must equal the compaction target. At
    100 TB this is the maintenance job that keeps scan task counts
    sane (one task per ~128 MB instead of per tiny file); the target
    file count is ceil(bytes/target_size) from the table stats, here
    pinned to 4 for the fixture."""
    docs = load(spark, sf_dir, "documents")
    frag_dir = scratch_dir("j2h_frag_")
    compact_dir = scratch_dir("j2h_compact_")
    docs.repartition(64).write.mode("overwrite").parquet(frag_dir)
    fragmented = spark.read.parquet(frag_dir)
    fragmented.repartition(4).write.mode("overwrite").parquet(compact_dir)
    back = spark.read.parquet(compact_dir)
    n_files = back.select(F.input_file_name().alias("f")).distinct().count()
    return back.agg(
        F.lit(n_files).cast("int").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


def _zorder_expr(x: str, y: str, bits: int = 8) -> str:
    """Bit-interleave SQL for a Z-order (Morton) value over two
    ``bits``-wide keys — generated once, used verbatim by BOTH engines
    so the curve positions hash-match."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


ZORDER_SQL = _zorder_expr("(o_custkey % 256)", "(o_orderkey % 256)")


@query(
    "a14_zorder",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST({ZORDER_SQL} AS BIGINT) AS zval,
           CAST(floor(CAST({ZORDER_SQL} AS DOUBLE) / 4096) AS BIGINT) AS zbucket
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def a14_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two
    dimensions so range predicates on EITHER column map to a bounded
    set of curve ranges — the multi-dimensional data-layout trick
    behind lakehouse OPTIMIZE ZORDER. The engine-side write path is
    ``repartitionByRange(zbucket).sortWithinPartitions(zval)`` (same
    physical stages as the HBase sink's region sort); the curve value
    and its range bucket are computed from one generated bitwise
    expression shared verbatim with the oracle."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr(ZORDER_SQL).cast("bigint").alias("zval"),
        F.floor(F.expr(ZORDER_SQL).cast("double") / 4096).cast("bigint").alias("zbucket"),
    )


@query(
    "a15_kv_roundtrip",
    oracle="""
    WITH cells AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS rowkey,
             'doc.status' AS qualifier, o_orderstatus AS v FROM orders WHERE o_orderkey < 2000
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), 'doc.total',
             CAST(o_totalprice AS VARCHAR) FROM orders WHERE o_orderkey < 2000
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), 'doc.meta.date',
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders WHERE o_orderkey < 2000
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), 'doc.meta.priority',
             o_orderpriority FROM orders WHERE o_orderkey < 2000
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), 'doc.keys.0',
             CAST(o_custkey AS VARCHAR) FROM orders WHERE o_orderkey < 2000
      UNION ALL
      SELECT CAST(o_orderkey AS VARCHAR), 'doc.keys.1',
             CAST(o_orderkey AS VARCHAR) FROM orders WHERE o_orderkey < 2000
    )
    SELECT rowkey,
           string_agg(qualifier || '=' || v, ',' ORDER BY qualifier) AS doc_blob,
           COUNT(*) AS n_cells
    FROM cells
    GROUP BY rowkey
    """,
)
def a15_kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flatten INVERSE: HBase cells regrouped back into one
    canonical document string per rowkey (sorted qualifier=value
    pairs) — proving kv_flatten is lossless and the cell long-format
    can reconstruct the source document (what a json2hbase reader does
    on the way back out). One shuffle on rowkey; the sort is
    per-document (array_sort over collected cells), not a global
    sort."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    docs = orders.select(
        F.col("o_orderkey").alias("rk"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
            F.struct(
                F.col("o_orderdate").cast("date").cast("string").alias("date"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("meta"),
            F.array(F.col("o_custkey"), F.col("o_orderkey")).alias("keys"),
        ).alias("doc"),
    )
    kv = kv_flatten(docs, "rk", cf="d")
    # sort on the qualifier alone (struct sort orders by first field),
    # matching the oracle's ORDER BY qualifier — sorting the joined
    # 'q=v' string instead would diverge whenever one qualifier is a
    # strict prefix of another ('2' < '=' in binary order)
    regrouped = kv.groupBy("rowkey").agg(
        F.array_sort(
            F.collect_list(F.struct("qualifier", "value"))
        ).alias("_cells"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return regrouped.select(
        "rowkey",
        F.array_join(
            F.transform(
                "_cells", lambda c: F.concat_ws("=", c["qualifier"], c["value"])
            ),
            ",",
        ).alias("doc_blob"),
        "n_cells",
    )


@query(
    "a16_bucketed_write",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000
    GROUP BY o_orderpriority
    """,
)
def a16_bucketed_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table write + co-located join read-back: both sides
    are written bucketBy(8, custkey) sortBy(custkey) so the join reads
    pre-hashed bucket files and needs NO exchange (the plan contract
    is pinned by tests/test_plans_scale.py
    test_bucketed_join_no_exchange). This is the storage-layout lever
    at 100 TB: pay the shuffle once at write time, every later join or
    aggregation on the bucket key is exchange-free. Result equals the
    plain parquet join (hash-checked)."""
    import shutil
    import uuid

    wh = scratch_dir("j2h_a16_wh_")
    tag = uuid.uuid4().hex[:8]
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    cust = load(spark, sf_dir, "customer")
    o_tbl, c_tbl = f"a16_orders_{tag}", f"a16_cust_{tag}"
    try:
        (
            orders.write.format("parquet")
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", f"{wh}/o")
            .mode("overwrite")
            .saveAsTable(o_tbl)
        )
        (
            cust.write.format("parquet")
            .bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .option("path", f"{wh}/c")
            .mode("overwrite")
            .saveAsTable(c_tbl)
        )
        joined = spark.table(o_tbl).join(
            spark.table(c_tbl), F.col("o_custkey") == F.col("c_custkey")
        )
        result = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
        # eagerly materialize the (tiny) aggregate so the catalog
        # tables and warehouse dir can be released before returning —
        # repeated invocations (or a failed write) must not leak
        # tables/dirs for the session
        return materialize(result)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {c_tbl}")
        shutil.rmtree(wh, ignore_errors=True)


@query(
    "a17_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           MAX(json_extract_string(props, '$.tag')) AS max_tag
    FROM events
    GROUP BY event_type
    """,
)
def a17_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (Spark 4):
    parse_json once into a binary-encoded variant column, then typed
    variant_get extractions — the engine decodes the compact encoding
    per access instead of re-parsing JSON text per field (the
    schema-on-read path for heterogeneous 100 TB event streams; at
    rest the variant column shreds into parquet). Aggregates are
    int/string — hash-exact against DuckDB's json_extract."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    extracted = v.select(
        "event_type",
        F.try_variant_get(F.col("v"), "$.k", "int").alias("k"),
        F.try_variant_get(F.col("v"), "$.tag", "string").alias("tag"),
    )
    return extracted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.max("tag").alias("max_tag"),
    )


@query(
    "a18_xml_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           MAX(o_orderstatus) AS max_status
    FROM orders
    WHERE o_orderkey < 500
    GROUP BY o_orderpriority
    """,
)
def a18_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + schema-explicit read-back (Spark 4 native XML data
    source, no external package): the interchange format enterprise
    feeds still arrive in. The aggregate over the round-tripped rows
    must equal the aggregate over the source parquet — proving the
    writer/reader pair is lossless for the projected columns. Floats
    survive via the decimal-sum convention; the date is projected as a
    string to stay timezone-inert in the XML text form."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    sel = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").cast("string").alias("o_date"),
    )
    out = scratch_dir("j2h_a18_xml_")
    sel.write.format("xml").option("rowTag", "order").mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
            "o_orderpriority STRING, o_date STRING"
        )
        .load(out)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_price"
        ),
        F.max("o_orderstatus").alias("max_status"),
    )


@query(
    "a19_python_datasource",
    oracle="""
    SELECT part,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id,
           CAST(SUM(doc_id % 97) AS BIGINT) AS checksum
    FROM (
      SELECT p.part, p.part * 1000 + i.i AS doc_id
      FROM (SELECT unnest(range(4)) AS part) p,
           (SELECT unnest(range(250)) AS i) i
    )
    GROUP BY part
    """,
)
def a19_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 pyspark.sql.datasource API):
    a deterministic synthetic-corpus source with REAL partition
    planning — 4 InputPartitions read in parallel, each generating its
    own id range executor-side (nothing flows from the driver). This
    is the extension point for bespoke feeds (internal APIs, catalogs,
    proprietary formats) without a JVM connector; at 100 TB the
    partitions() method is where split planning lives. Content is
    seeded arithmetic, so DuckDB reproduces it exactly from range()."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(4)]

        def read(self, partition):
            part = partition.value
            for i in range(250):
                doc_id = part * 1000 + i
                yield (part, doc_id, f"doc-{doc_id}")

    class SyntheticDocs(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_docs"

        def schema(self):
            return "part INT, doc_id BIGINT, text STRING"

        def reader(self, schema):
            return _SynthReader()

    spark.dataSource.register(SyntheticDocs)
    df = spark.read.format("synthetic_docs").load()
    return df.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum(F.col("doc_id") % 97).alias("checksum"),
    )


@query(
    "a20_observed_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           MAX(l_orderkey) AS max_order,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_discounted
    FROM lineitem
    """,
)
def a20_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``observe()``: named metrics ride ON
    the existing action (collected by the AggregatingAccumulator
    during the same pass) instead of a second scan — how production
    jobs emit row counts / quality tallies to listeners without
    re-reading 100 TB. The observed values are returned as a one-row
    frame and hash-checked against a plain SQL aggregate — pinning
    that observe() sees every row exactly once. (DISTINCT aggregates
    are disallowed in observed metrics — Spark's checkMetric rule —
    so the cardinality-style metric here is max, not countDistinct.)"""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem")
    obs = Observation("a20")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.max("l_orderkey").alias("max_order"),
        F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_qty"
        ),
        F.sum((F.col("l_discount") > 0.05).cast("int")).cast("bigint").alias(
            "n_discounted"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" action
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["max_order"], m["sum_qty"], m["n_discounted"])],
        "n_rows BIGINT, max_order BIGINT, sum_qty DOUBLE, n_discounted BIGINT",
    )


@query(
    "a21_dynamic_partition_overwrite",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           COUNT(*) AS n_orders
    FROM orders
    WHERE year(o_orderdate) != 1996
       OR o_totalprice > 150000
    GROUP BY 1
    """,
)
def a21_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive
    of a partitioned lake: rewriting one day/year touches ONLY the
    partitions present in the incoming frame, every other partition's
    files stay byte-identical (static overwrite mode would truncate
    the whole table). Here: full partitioned write, then a slimmed
    1996 slice overwrites just that partition; the read-back must show
    1996 replaced and all other years intact."""
    import shutil

    out = scratch_dir("j2h_a21_")
    try:
        orders = load(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        orders.write.partitionBy("o_year").mode("overwrite").parquet(out)
        backfill = orders.filter(
            (F.col("o_year") == 1996) & (F.col("o_totalprice") > 150000)
        )
        # the write option, not the session conf: other queries on the
        # session keep static overwrite
        (
            backfill.write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("o_year")
            .mode("overwrite")
            .parquet(out)
        )
        result = (
            spark.read.parquet(out)
            .groupBy("o_year")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )
        # eager so the temp dir can be released before return
        return materialize(result)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "a22_python_datasource_writer",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def a22_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITE path (completes the custom-source
    triangle with a19 batch read and i18 streaming read): a JSONL sink
    with the writer API's real two-phase commit — executors stage one
    temp file per partition inside ``write()`` and return commit
    messages; the driver's ``commit()`` atomically renames staged
    files into place (``abort()`` deletes them), so a failed job
    publishes nothing. The landed files are read back and aggregated;
    the result must equal the direct aggregate over the source —
    proving no loss/duplication through the sink. At 100 TB this is
    the no-JVM extension point for bespoke sinks; the staging-dir
    rename is the same exactly-once pattern a real object-store
    committer uses."""
    import glob
    import json
    import os
    import shutil
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(tempfile.gettempdir(), f"j2h_pyds_sink_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    class _Staged(WriterCommitMessage):
        def __init__(self, path: str, rows: int):
            self.path = path
            self.rows = rows

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, iterator):
            staged = os.path.join(self.path, f"_staged_{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(staged, "w") as f:
                for row in iterator:
                    f.write(
                        json.dumps(
                            {
                                "doc_id": row.doc_id,
                                "lang": row.lang,
                                "n_chars": row.n_chars,
                            }
                        )
                        + "\n"
                    )
                    n += 1
            return _Staged(staged, n)

        def commit(self, messages):
            for i, m in enumerate(messages):
                os.rename(m.path, os.path.join(self.path, f"part-{i:05d}.jsonl"))

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "j2h_jsonl_sink"

        def writer(self, schema, overwrite: bool):
            return _JsonlWriter(self.options["path"])

    # Spark resolves a Python write source through the JVM thread's
    # active session, and a thread other than the one that built the
    # session has none: make this session active first, as PySpark's
    # own createDataFrame does
    SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(
        spark._jsparkSession
    )
    spark.dataSource.register(JsonlSink)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.format("j2h_jsonl_sink").option("path", out).mode("append").save()

    assert not glob.glob(os.path.join(out, "_staged_*")), "uncommitted staged files"
    back = spark.read.json(os.path.join(out, "*.jsonl"))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "a23_binary_ingest",
    oracle="""
    SELECT 'asset_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.bin'
             AS file_name,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id < 40
    """,
)
def a23_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingestion through Spark's ``binaryFile`` source —
    the real entry point of the multimodal pipeline (m-family): a
    directory of media blobs becomes (path, length, content) rows with
    NO decoding, ready for the digest/metadata passes (m1/m7). The
    staged fixture is 40 deterministic .bin files derived from the
    documents table (media libs absent, so text bytes stand in for
    payloads). The oracle derives the EXPECTED (name, utf-8 byte
    length, md5) straight from the documents view — sf-generic, no
    pinned staging path (round-5 sweeps flagged the old read_blob glob
    as sf0.01-pinned) — so the check is end-to-end: source text →
    staged file bytes → binaryFile read-back must reproduce the
    source's own digest, proving byte-faithful ingestion, not just row
    counts. At 100 TB binaryFile lists and splits by file (one task
    per blob group, content never in the driver), pairing with m7's
    digest-only shuffle."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    tag = sf_dir.strip("/").replace("/", "_")
    stage = os.path.join(tempfile.gettempdir(), f"j2h_a23_assets_{tag}")
    marker = os.path.join(stage, "_staged")
    # marker carries the source fixture's fingerprint (mtime_ns:size,
    # part of io.parquet_schema's memo key): a regenerated
    # documents.parquet invalidates the staging instead of silently
    # serving blobs from the previous corpus generation
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        fingerprint = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fingerprint = "unknown"
    staged = None
    try:
        with open(marker) as f:
            staged = f.read().strip()
    except OSError:
        pass
    if staged != fingerprint:
        if os.path.isdir(stage):
            import shutil

            shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        rows = (
            docs.filter(F.col("doc_id") < 40)
            .select("doc_id", "text")
            .collect()  # staging harness only: 40 tiny fixture blobs
        )
        for r in rows:
            with open(os.path.join(stage, f"asset_{r.doc_id:05d}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        with open(marker, "w") as f:
            f.write(fingerprint)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(stage)
    )
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------- a24


@query(
    "a24_manifest_write",
    oracle="""
    WITH h AS (
      SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                 || COALESCE(text, '')), 1, 15))::BIGINT AS hv
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(hv AS DECIMAL(38, 0)))
                % 1152921504606846976 AS BIGINT) AS content_digest,
           TRUE AS verified
    FROM h
    GROUP BY lang
    """,
)
def a24_manifest_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified write — the lakehouse commit-protocol pattern without
    a table format: write the corpus partitioned by lang, then build a
    per-partition MANIFEST from the files actually on disk (row count
    + j68's additive content digest, via the shared digest_hash64) and
    prove it equals the same manifest computed from the source
    DataFrame. `verified` is the equality of the two — a reader can
    trust the directory because the manifest says what it must
    contain, and the writer knows the write lost/duplicated nothing
    (speculative task duplicates, partial overwrites, and dropped
    partitions all flip it to FALSE). At 100 TB the expected side is
    the upstream stage's already-computed digest (one 20-row
    artifact), so verification costs one read-back aggregation —
    cheap insurance against the class of silent data loss no schema
    check catches. The tiny result is eagerly materialized so the
    scratch directory can be reclaimed before returning (a16's
    lifecycle pattern)."""
    import os
    import shutil
    import tempfile

    docs = load(spark, sf_dir, "documents")
    path = os.path.join(tempfile.gettempdir(), f"j2h_a24_{os.getpid()}")
    try:
        docs.write.partitionBy("lang").mode("overwrite").parquet(path)
        out = verify_manifest(spark.read.parquet(path), docs)
        return materialize(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def partition_manifest(df: DataFrame) -> DataFrame:
    """(lang, n_rows, content_digest) — the per-partition manifest a24
    computes on both sides of a write."""
    from json2hbase_spark.plans.pipeline_queries import DIGEST_MOD, digest_hash64

    hv = digest_hash64(F.col("doc_id"), F.col("text"))
    return (
        df.select("lang", hv.alias("hv"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(F.col("hv").cast("decimal(38,0)")) % DIGEST_MOD)
            .cast("bigint")
            .alias("content_digest"),
        )
    )


def verify_manifest(actual_df: DataFrame, expected_df: DataFrame) -> DataFrame:
    """Join the two manifests; `verified` = rows AND digest agree.
    A partition present in only one side disappears from the inner
    join — callers comparing possibly-divergent partition SETS should
    also compare row counts of the two manifests (a24's write cannot
    drop a partition without also flipping a surviving lang's digest,
    since partitionBy moves rows, not removes them)."""
    expected = partition_manifest(expected_df).withColumnsRenamed(
        {"n_rows": "exp_rows", "content_digest": "exp_digest"}
    )
    return partition_manifest(actual_df).join(F.broadcast(expected), "lang").select(
        "lang",
        "n_rows",
        "content_digest",
        (
            (F.col("n_rows") == F.col("exp_rows"))
            & (F.col("content_digest") == F.col("exp_digest"))
        ).alias("verified"),
    )


@query(
    "a26_jsonl_gzip",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len
    FROM documents
    GROUP BY source
    """,
)
def a26_jsonl_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed JSONL round-trip — the de-facto interchange format of
    web-corpus pipelines (CommonCrawl derivatives ship as .jsonl.gz):
    documents written as gzip line-delimited JSON, re-ingested with
    schema inference, and aggregated per source; the oracle (computed
    from the original parquet) proves the codec+parse cycle is
    lossless including full text bytes (sum_len), not just row counts.

    Plan/scale: gzip is NOT splittable — one .gz file = one read task,
    so the writer keeps the input partitioning (many ~shard-sized
    files) rather than coalescing; at 100 TB the reader's parallelism
    equals the file count, which is why pipelines shard .jsonl.gz to
    ~100 MB-1 GB files. (zstd would be the better codec — splittable
    frames via seekable format, faster — but gzip is what the public
    corpora actually ship.) Schema inference pays one extra pass;
    production readers pass an explicit schema, as the read-back here
    documents."""
    from json2hbase_spark.scratch import LAST_STAGED

    docs = load(spark, sf_dir, "documents")
    path = scratch_dir("j2h_docs_jsonl_gz")
    LAST_STAGED["a26_jsonl_gzip"] = path
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    back = spark.read.json(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_len"),
    )


@query(
    "a27_csv_corrupt_recovery",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n_nations,
             CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             CAST(SUM(CASE WHEN n_nationkey < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad
      FROM nation
    )
    SELECT 'PERMISSIVE' AS mode,
           CAST(n_nations + n_bad AS BIGINT) AS n_rows,
           n_bad AS n_corrupt, key_sum FROM base
    UNION ALL
    SELECT 'DROPMALFORMED' AS mode,
           CAST(n_nations AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_corrupt, key_sum FROM base
    """,
)
def a27_csv_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV recovery — the source-robustness contract a7's
    clean scan doesn't test: a CSV staged with one deliberately broken
    line per low-key nation (wrong column count, non-numeric key) read
    under both parser policies. PERMISSIVE + columnNameOfCorruptRecord
    keeps every line and quarantines the broken ones into the corrupt
    column (the audit-and-fix workflow); DROPMALFORMED silently keeps
    only parseable rows (the ingest-at-all-costs workflow). The report
    row per mode (row count, corrupt count, key sum over good rows)
    hash-proves both policies against the clean source of truth.

    Plan/scale: the policy is parser-level, applied per input split —
    no shuffle, no driver involvement; a 100 TB ingest pays it inside
    the scan. FAILFAST (the third policy) is the schema-contract
    gate — exercised in tests, not here, because it throws by design.
    Corrupt-row columns must be materialized from the raw line (Spark
    requires selecting the corrupt column only after caching or from
    the same scan), which this plan does in one pass per mode."""
    from json2hbase_spark.scratch import LAST_STAGED

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    nation = load(spark, sf_dir, "nation")
    good = nation.select(
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            "n_name",
            F.col("n_regionkey").cast("string"),
        ).alias("line")
    )
    bad = nation.filter(F.col("n_nationkey") < 5).select(
        F.concat(F.lit("notakey,"), F.col("n_name")).alias("line")
    )
    path = scratch_dir("j2h_csv_corrupt")
    LAST_STAGED["a27_csv_corrupt_recovery"] = path
    good.unionAll(bad).coalesce(1).write.mode("overwrite").text(path)

    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
            StructField("_corrupt", StringType()),
        ]
    )
    perm = spark.read.csv(
        path,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    p = perm.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("_corrupt").cast("bigint").alias("n_corrupt"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    ).select(F.lit("PERMISSIVE").alias("mode"), "n_rows", "n_corrupt", "key_sum")
    dropm = spark.read.csv(
        path,
        schema=StructType(schema.fields[:3]),
        mode="DROPMALFORMED",
    )
    d = dropm.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("n_corrupt"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    ).select(F.lit("DROPMALFORMED").alias("mode"), "n_rows", "n_corrupt", "key_sum")
    return p.unionAll(d)


# ---------------------------------------------------------------- a25

_AVRO_FIELDS = [
    ("s_suppkey", "long"),
    ("s_name", "string"),
    ("s_nationkey", "int"),
    ("s_acctbal", "double"),
]


@query(
    "a25_avro_roundtrip",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           COUNT(DISTINCT s_suppkey) AS n_keys,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
           MIN(s_name) AS first_name
    FROM supplier GROUP BY s_nationkey
    """,
)
def a25_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round-trip — the interchange format VERDICT r10 listed as
    the one mainstream gap: the sandbox ships Avro LIBRARY jars but
    not the spark-avro datasource (re-probed this round:
    ``format("avro")`` raises), and no Python avro package exists
    here — so the engine carries its own spec-compliant subset codec
    (operators/avro_lite.py, written against the public Avro 1.12
    spec: container framing, zig-zag varints, IEEE-LE doubles,
    deflate codec). supplier is written as one genuine .avro
    container file PER PARTITION from the executors
    (foreachPartition — the layout any file sink produces), read
    back via a binaryFile scan + Arrow-batched mapInPandas decode,
    and the aggregate over the round-tripped rows must equal the
    parquet source: longs/strings trivially, doubles BIT-exactly
    (struct IEEE-754 encode/decode, no text formatting).

    At 100 TB both directions are embarrassingly parallel (per-task
    container files; block-framed decode per file) and nothing
    routes through the driver. A cluster with the real spark-avro
    module swaps ``spark.read.format("avro")`` in for the
    mapInPandas leg — the contract and this test stay the same."""
    import os
    import uuid

    from json2hbase_spark.operators.avro_lite import (
        read_container,
        record_schema,
        write_container,
    )

    sup = load(spark, sf_dir, "supplier")
    out = scratch_dir("j2h_avro_")
    schema_json = record_schema("supplier", _AVRO_FIELDS)
    cols = [n for n, _ in _AVRO_FIELDS]

    def write_part(rows) -> None:
        # Peek the first row so empty partitions genuinely produce no
        # file (header-only containers are valid Avro, but skipping
        # them keeps the read side's file list meaningful).
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return
        import itertools

        tuples = (
            tuple(r[c] for c in cols) for r in itertools.chain((first,), it)
        )
        data = write_container(schema_json, tuples, codec="deflate")
        path = os.path.join(out, f"part-{uuid.uuid4().hex}.avro")
        with open(path, "wb") as f:
            f.write(data)

    sup.select(*cols).repartition(4).foreachPartition(write_part)

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                _, rows = read_container(bytes(blob))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    back = (
        spark.read.format("binaryFile")
        .load(out + "/*.avro")
        .select("content")
        .mapInPandas(
            decode,
            schema="s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        )
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.countDistinct("s_suppkey").alias("n_keys"),
        F.expr("CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_bal"
        ),
        F.min("s_name").alias("first_name"),
    )


# ---------------------------------------------------------------- a28

_A28_DIGEST_MOD = 1 << 60  # pipeline_queries.DIGEST_MOD (import at call time)

_A28_HV = """('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || COALESCE(text, '')), 1, 15))::BIGINT"""

# the three committed source states, as predicates on `documents` —
# the SAME slice definitions the Spark side writes, so the oracle can
# reconstruct every snapshot without seeing the commit log:
#   v1: initial write           doc_id % 3 = 0
#   v2: append                  + doc_id % 3 = 1
#   v3: overwrite lang='en'     en slice replaced by its even doc_ids
_A28_PREDS = {
    1: "doc_id % 3 = 0",
    2: "doc_id % 3 <= 1",
    3: "(doc_id % 3 <= 1 AND lang != 'en')"
    " OR (lang = 'en' AND doc_id % 3 <= 1 AND doc_id % 2 = 0)",
}


@query(
    "a28_commit_log",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, text, {_A28_HV} AS hv FROM documents
    ),
    states AS (
      {" UNION ALL ".join(f"SELECT {v} AS version, lang, hv FROM h WHERE {p}" for v, p in _A28_PREDS.items())}
    )
    SELECT CAST(version AS INT) AS version, lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(hv AS DECIMAL(38, 0)))
                % {_A28_DIGEST_MOD} AS BIGINT) AS content_digest,
           TRUE AS verified
    FROM states
    GROUP BY version, lang
    """,
)
def a28_commit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-table COMMIT LOG + time travel (round 13, VERDICT r12 #5)
    — the lakehouse primitive a24's manifests were one layer short of:
    a versioned snapshot log in the Delta/Iceberg mold, built from
    exactly the pieces already proven (a24's per-partition digest
    manifest, a21's partition-overwrite semantics), plus an AS-OF
    reader that replays the log.

    Protocol (the Delta pattern, reduced to its commit kernel):
    - data files land under ``data/commit=N/lang=.../*.parquet`` —
      writers never mutate existing files (append-only storage, the
      property object stores give you);
    - each commit then appends ``_commit_log/N.json`` with its `add`
      and `remove` file actions (remove is LOGICAL — the files stay,
      which is what makes time travel possible) plus the commit's
      source-state manifest;
    - a reader at version K replays actions 1..K into an active-file
      set and reads exactly those files (`basePath` keeps the
      partition columns). Readers never list the directory — the log
      IS the table, so a half-written commit (no log entry yet) is
      invisible: atomicity comes from the log append, not the data
      write.

    Three commits run here: initial write (doc_id%3=0), append
    (+doc_id%3=1), and an overwrite of the lang='en' partition that
    logically removes every active en file and adds the replacement
    slice (en rows with even doc_id) — the action kind that breaks
    naive directory readers. Each snapshot 1..3 is then AS-OF read
    and verified: its per-lang (n_rows, content_digest) manifest must
    equal the manifest computed from the source state the log claims
    (a24's verify_manifest). The oracle reconstructs all three states
    from `documents` via the same slice predicates — every digest is
    hash-checked, and `verified` proves the replayed file sets lose/
    duplicate nothing.

    100 TB: the log is N tiny JSON records (driver-side metadata, the
    same artifact class as Delta's _delta_log); data writes are plain
    partitioned parquet appends; the AS-OF read prunes to the active
    file list before any scan. Digest verification costs one
    aggregation per read — a24's insurance, now per snapshot."""
    import json as _json
    import os

    from json2hbase_spark.scratch import scratch_dir as _scratch

    docs = load(spark, sf_dir, "documents")
    table = _scratch("j2h_a28_table")
    data_root = os.path.join(table, "data")
    log_dir = os.path.join(table, "_commit_log")
    os.makedirs(log_dir, exist_ok=True)

    def _commit_files(commit_dir: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(commit_dir):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(root, f), data_root)
                    )
        return sorted(out)

    def commit(version: int, df: DataFrame, remove: list[str]) -> None:
        cdir = os.path.join(data_root, f"commit={version}")
        df.write.partitionBy("lang").mode("overwrite").parquet(cdir)
        entry = {
            "version": version,
            "add": _commit_files(cdir),
            "remove": sorted(remove),
        }
        # log append is the commit point (atomic rename on a real
        # object store / HDFS; os.replace is the local analogue)
        tmp = os.path.join(log_dir, f".{version}.json.tmp")
        with open(tmp, "w") as fh:
            _json.dump(entry, fh)
        os.replace(tmp, os.path.join(log_dir, f"{version}.json"))

    def active_files(version: int) -> list[str]:
        active: set[str] = set()
        for v in range(1, version + 1):
            with open(os.path.join(log_dir, f"{v}.json")) as fh:
                entry = _json.load(fh)
            active -= set(entry["remove"])
            active |= set(entry["add"])
        return sorted(active)

    d = F.col("doc_id")
    # v1: initial write; v2: append; v3: partition overwrite of en
    commit(1, docs.filter(d % 3 == 0), remove=[])
    commit(2, docs.filter(d % 3 == 1), remove=[])
    en_active = [f for f in active_files(2) if "/lang=en/" in f"/{f}"]
    commit(
        3,
        docs.filter((d % 3 <= 1) & (F.col("lang") == "en") & (d % 2 == 0)),
        remove=en_active,
    )

    expected = {
        1: docs.filter(d % 3 == 0),
        2: docs.filter(d % 3 <= 1),
        3: docs.filter(
            ((d % 3 <= 1) & (F.col("lang") != "en"))
            | ((F.col("lang") == "en") & (d % 3 <= 1) & (d % 2 == 0))
        ),
    }
    outs = []
    for version in (1, 2, 3):
        snap = spark.read.option("basePath", data_root).parquet(
            *[os.path.join(data_root, f) for f in active_files(version)]
        )
        outs.append(
            verify_manifest(snap, expected[version]).select(
                F.lit(version).cast("int").alias("version"),
                "lang",
                "n_rows",
                "content_digest",
                "verified",
            )
        )
    from functools import reduce as _reduce

    out = _reduce(DataFrame.unionByName, outs)
    # eager materialize so the scratch table can be reclaimed (a24's
    # lifecycle pattern; scratch root is atexit-removed regardless)
    return materialize(out)
