"""The parquet schema memo in ``json2hbase_spark.io``: a warm table
load launches no Spark job, the memoized schema is Spark's own
inference, and a rewritten file or a changed inference conf is
re-inferred."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from json2hbase_spark import io
from json2hbase_spark.io import TABLES, load, parquet_schema, register_views


def _warm(spark, sf_dir):
    # The events load sets nanosAsLong, one of the memo's key confs, so
    # tables loaded before the first events load are inferred again
    # after it; load events first to settle the conf.
    load(spark, sf_dir, "events")
    for name in TABLES:
        load(spark, sf_dir, name)


def test_warm_load_and_register_views_launch_no_jobs(spark, sf_dir, count_jobs):
    _warm(spark, sf_dir)
    assert count_jobs(lambda: load(spark, sf_dir, "orders")) == 0
    assert count_jobs(lambda: load(spark, sf_dir, "events")) == 0
    only = ("orders", "customer", "events")
    assert count_jobs(lambda: register_views(spark, sf_dir, only=only)) == 0


def test_memo_schema_is_spark_inference(spark, sf_dir):
    _warm(spark, sf_dir)
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path)
        assert parquet_schema(spark, path) == inferred.schema, name
        if name == "events":
            inferred = io._normalize_events_ts(inferred)
        assert load(spark, sf_dir, name).schema == inferred.schema, name


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    rows = load(spark, str(tmp_path), "t").orderBy("a").collect()
    assert [tuple(r) for r in rows] == [(3, "x"), (4, "y")]


def test_inference_conf_is_in_the_key(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        for value, want in (("false", "binary"), ("true", "string"), ("false", "binary")):
            spark.conf.set(conf, value)
            schema = parquet_schema(spark, path)
            assert schema == spark.read.parquet(path).schema
            assert schema["b"].dataType.simpleString() == want
    finally:
        spark.conf.set(conf, old)


def test_concurrent_loads_on_a_cold_memo(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(io, "_schemas", {})

    def load_all():
        return [load(spark, sf_dir, name).schema for name in TABLES]

    with ThreadPoolExecutor(8) as pool:
        results = [f.result() for f in [pool.submit(load_all) for _ in range(8)]]
    assert all(r == results[0] for r in results)
