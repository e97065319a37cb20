"""kv_flatten's plan build: a constant number of JVM round trips, and
the same cells as a pure-Python flattening on seeded nested shapes."""

from __future__ import annotations

import json
import random
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from json2hbase_spark.operators.flatten import kv_flatten
from json2hbase_spark.operators.hbase import derive_rowkey
from perfbench import ingest_docs


def _struct(*fields: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


def _flat(width: int) -> StructType:
    types = (StringType(), LongType(), DoubleType(), BooleanType())
    return _struct(("id", StringType()), *((f"f{i:02d}", types[i % 4]) for i in range(width)))


def test_plan_build_round_trips_do_not_grow_with_width(spark, round_trips):
    """One leaf used to cost about a dozen Py4J Column calls; the SQL
    build costs the same few round trips for 8 fields as for 48, and
    carrying a salted rowkey's tag stays inside the bound."""

    def build(df) -> int:
        return round_trips(lambda: kv_flatten(df, "id"))

    narrow = build(spark.createDataFrame([], _flat(8)))
    wide = build(spark.createDataFrame([], _flat(48)))
    salted = spark.createDataFrame([], _flat(48)).withColumn("id", derive_rowkey("id", salt_len=2))
    assert narrow == wide
    assert wide <= 30
    assert build(salted) <= 30


# depth >= 6, arrays of structs holding arrays and maps, maps holding
# arrays and maps: every lambda nests inside another one somewhere
_DEEP: DataType = _struct(("leaf", LongType()), ("xs", ArrayType(DoubleType())))
for _level in range(6):
    _DEEP = _struct((f"n{_level}", BooleanType()), ("d", _DEEP))
MIXED = _struct(
    ("id", StringType()),
    ("deep", _DEEP),
    ("orders", ArrayType(_struct(
        ("sku", StringType()),
        ("lines", ArrayType(_struct(("code", StringType()), ("tags", ArrayType(StringType()))))),
        ("attrs", MapType(StringType(), ArrayType(LongType()))),
    ))),
    ("idx", MapType(StringType(), _struct(("n", LongType()), ("m", MapType(StringType(), BooleanType()))))),
)
_KEYS = ("k", "a.b", "a\\b", "v1.2\\3", "\\.", "x0", "i0")


def _value(rng: random.Random, dtype: DataType):
    if rng.random() < 0.1:
        return None
    if isinstance(dtype, StructType):
        return {f.name: _value(rng, f.dataType) for f in dtype.fields}
    if isinstance(dtype, ArrayType):
        return [_value(rng, dtype.elementType) for _ in range(rng.randrange(4))]
    if isinstance(dtype, MapType):
        return {k: _value(rng, dtype.valueType) for k in rng.sample(_KEYS, rng.randrange(4))}
    if isinstance(dtype, StringType):
        return f"s{rng.randrange(100)}"
    if isinstance(dtype, LongType):
        return rng.randrange(-1000, 1000)
    if isinstance(dtype, DoubleType):
        return round(rng.uniform(-9999.0, 9999.0), 2)  # CAST AS STRING == repr
    return rng.random() < 0.5


def _docs(shape: str, seed: int, n: int) -> tuple[list[dict], StructType]:
    if shape == "mixed":
        rng = random.Random(seed)
        docs = [
            {"id": f"m{i}", **{f.name: _value(rng, f.dataType) for f in MIXED.fields[1:]}}
            for i in range(n)
        ]
        return docs, MIXED
    return ingest_docs.generate(shape, seed, n), ingest_docs.SCHEMAS[shape]


def test_nested_shapes_match_python_flattening(spark):
    for shape in ("mixed", *ingest_docs.SHAPES):
        docs, schema = _docs(shape, seed=7, n=40)
        df = spark.read.schema(schema).json(
            spark.sparkContext.parallelize([json.dumps(d) for d in docs])
        )
        # a separate rowkey column keeps "id" a cell, as the reference has it
        rows = kv_flatten(df.withColumn("rk", F.col("id")), "rk").collect()
        got = Counter((r.rowkey, r.qualifier, r.value) for r in rows)
        want = Counter(
            (d["id"], q, v) for d in docs for q, v in ingest_docs.reference_cells(d, schema)
        )
        assert got == want, shape
