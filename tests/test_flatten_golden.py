"""Golden tests pinning kv_flatten semantics (FIXTURES.md §2):
dotted paths, 0-based array indexing, null leaves skipped, canonical
scalar strings, separator escaping, collision policy."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from json2hbase_spark.operators.flatten import kv_flatten

CANONICAL_DOC = {
    "id": "u001",
    "name": "Ada",
    "active": True,
    "score": 9.75,
    "address": {"city": "Lima", "geo": {"lat": -12.05, "lon": -77.04}},
    "tags": ["a", "b"],
    "orders": [{"sku": "X1", "qty": 2}, {"sku": "X2", "qty": 1}],
    "nickname": None,
}

EXPECTED_CELLS = {
    ("u001", "d", "name", "Ada"),
    ("u001", "d", "active", "true"),
    ("u001", "d", "score", "9.75"),
    ("u001", "d", "address.city", "Lima"),
    ("u001", "d", "address.geo.lat", "-12.05"),
    ("u001", "d", "address.geo.lon", "-77.04"),
    ("u001", "d", "tags.0", "a"),
    ("u001", "d", "tags.1", "b"),
    ("u001", "d", "orders.0.sku", "X1"),
    ("u001", "d", "orders.0.qty", "2"),
    ("u001", "d", "orders.1.sku", "X2"),
    ("u001", "d", "orders.1.qty", "1"),
}


def _flatten_json_docs(spark, docs, **kw):
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    return kv_flatten(df, "id", **kw)


def test_canonical_doc(spark):
    rows = _flatten_json_docs(spark, [CANONICAL_DOC]).collect()
    got = {tuple(r) for r in rows}
    assert got == EXPECTED_CELLS  # nickname (null) produces no cell


def test_empty_object_and_empty_array(spark):
    rows = _flatten_json_docs(spark, [{"id": "e1", "tags": [], "name": "x"}]).collect()
    got = {tuple(r) for r in rows}
    assert got == {("e1", "d", "name", "x")}


def test_four_deep_nesting(spark):
    doc = {"id": "n1", "a": {"b": {"c": {"d": 42}}}}
    rows = _flatten_json_docs(spark, [doc]).collect()
    assert {tuple(r) for r in rows} == {("n1", "d", "a.b.c.d", "42")}


def test_array_of_scalars_only(spark):
    doc = {"id": "s1", "xs": [10, 20, 30]}
    rows = _flatten_json_docs(spark, [doc]).collect()
    assert {tuple(r) for r in rows} == {
        ("s1", "d", "xs.0", "10"),
        ("s1", "d", "xs.1", "20"),
        ("s1", "d", "xs.2", "30"),
    }


def test_heterogeneous_array_degrades_to_json_strings(spark):
    """Spark JSON inference has no union type: a mixed array infers as
    array<string> with elements kept as their JSON text. Engine policy:
    those leaves flatten as scalar strings (documented degradation)."""
    doc = {"id": "h1", "mix": [1, "x", {"y": 2}]}
    rows = _flatten_json_docs(spark, [doc]).collect()
    got = {tuple(r) for r in rows}
    quals = {q for (_, _, q, _) in got}
    assert quals == {"mix.0", "mix.1", "mix.2"}
    values = {q: v for (_, _, q, v) in got}
    assert values["mix.1"] == "x"


def test_separator_in_key_is_escaped(spark):
    doc = {"id": "k1", "a.b": 1, "nested": {"c.d": 2}}
    rows = _flatten_json_docs(spark, [doc]).collect()
    got = {(r.qualifier, r.value) for r in rows}
    assert got == {("a\\.b", "1"), ("nested.c\\.d", "2")}


def test_collision_keeps_both_cells(spark):
    """{"a":{"b":1}} and a literal "a.b" key do NOT collide after
    escaping; both cells survive (last-write-wins is the sink's job)."""
    doc = {"id": "c1", "a": {"b": 1}}
    doc2 = {"id": "c1", "a.b": 2}
    df = _flatten_json_docs(spark, [doc, doc2])
    quals = sorted(r.qualifier for r in df.collect())
    assert quals == ["a.b", "a\\.b"]


def test_map_type_flatten(spark):
    from pyspark.sql.types import MapType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("m", MapType(StringType(), StringType())),
        ]
    )
    df = spark.createDataFrame([("m1", {"k1": "v1", "k.2": "v2"})], schema)
    rows = kv_flatten(df, "id").collect()
    got = {(r.qualifier, r.value) for r in rows}
    assert got == {("m.k1", "v1"), ("m.k\\.2", "v2")}


def test_binary_and_timestamp_canonical(spark):
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    import datetime

    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("blob", BinaryType()),
            StructField("ts", TimestampType()),
        ]
    )
    df = spark.createDataFrame(
        [("b1", bytearray(b"hi"), datetime.datetime(2024, 1, 2, 3, 4, 5))], schema
    )
    rows = {r.qualifier: r.value for r in kv_flatten(df, "id").collect()}
    assert rows["blob"] == "aGk="  # base64
    assert rows["ts"].startswith("2024-01-02 03:04:05")


def test_rows_scale_linearly_with_docs(spark):
    docs = [{"id": f"d{i}", "x": i, "ys": [i, i + 1]} for i in range(50)]
    df = _flatten_json_docs(spark, docs)
    assert df.count() == 50 * 3  # x, ys.0, ys.1


def test_sql_quoting_is_independent_of_escaped_string_literals(spark):
    """Names and keys holding quotes, backticks, backslashes and the
    separator, and a field named like a lambda variable, flatten to the
    same cells whatever ``spark.sql.parser.escapedStringLiterals`` says."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    x0 = StructType([StructField("x0", StringType())])
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("it's", StringType()),
            StructField("a`b", LongType()),
            StructField(
                "c\\d.e",
                StructType([StructField("x0", StringType()), StructField("xs", ArrayType(x0))]),
            ),
            StructField("m", MapType(StringType(), StringType())),
        ]
    )
    row = ("q1", "v'1", 7, ("in", [("el",)]), {"k'1": "a", "k\\.2": "b"})
    df = spark.createDataFrame([row], schema)
    expected = {
        ("it's", "v'1"),
        ("a`b", "7"),
        ("c\\\\d\\.e.x0", "in"),
        ("c\\\\d\\.e.xs.0.x0", "el"),
        ("m.k'1", "a"),
        ("m.k\\\\\\.2", "b"),
    }
    conf = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(conf)
    try:
        for escaped in ("false", "true"):
            spark.conf.set(conf, escaped)
            rows = kv_flatten(df, "id").collect()
            assert {(r.qualifier, r.value) for r in rows} == expected, escaped
            assert {(r.rowkey, r.cf) for r in rows} == {("q1", "d")}
    finally:
        spark.conf.set(conf, before)
