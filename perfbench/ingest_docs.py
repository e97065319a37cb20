"""Seeded JSONL documents for the ``hbase_ingest`` workload, their
explicit Spark schemas, and a pure-Python reference flattening.

Four document shapes stress different parts of ``kv_flatten``:

- ``flat_wide``: 48 top-level scalars of four types, ~10 % nulls.
- ``deep``: objects nested seven levels, with an array at the bottom.
- ``array_struct``: arrays of structs holding arrays of structs.
- ``map_heavy``: three maps, some keys holding the path separator.

``reference_cells`` follows the flattening rules of FIXTURES.md §2
(dotted paths, 0-based array indexes, map keys as path segments, null
and empty containers give no cell, ``.`` and ``\\`` in keys escaped)
without Spark, so the workload's output can be checked against it.
"""

from __future__ import annotations

import hashlib
import json
import random

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

SHAPES = ("flat_wide", "deep", "array_struct", "map_heavy")
SALT_LEN = 2
SEP = "#"

_WIDE_TYPES = (StringType(), LongType(), DoubleType(), BooleanType())
_WORDS = ("lima", "quito", "oslo", "kyiv", "accra", "hanoi", "perth", "bern")
_MAP_KEYS = tuple(f"k{i:02d}" for i in range(20)) + ("geo.lat", "geo.lon", "a\\b", "v1.2.3")


def _struct(*fields: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


def _deep_schema() -> StructType:
    inner: DataType = _struct(("leaf", StringType()), ("vals", ArrayType(LongType())))
    for level, leaf_type in zip(range(6, 0, -1), (BooleanType(), DoubleType(), LongType()) * 2):
        inner = _struct(("n", leaf_type), (f"l{level + 1}", inner))
    meta: DataType = _struct(("f", LongType()), ("g", StringType()))
    for name in "edcba":
        meta = _struct((name, meta))
    return _struct(("id", StringType()), ("l1", inner), ("meta", meta))


SCHEMAS: dict[str, StructType] = {
    "flat_wide": _struct(
        ("id", StringType()),
        *((f"f{i:02d}", _WIDE_TYPES[i % 4]) for i in range(48)),
    ),
    "deep": _deep_schema(),
    "array_struct": _struct(
        ("id", StringType()),
        ("customer", StringType()),
        ("orders", ArrayType(_struct(
            ("sku", StringType()),
            ("qty", LongType()),
            ("price", DoubleType()),
            ("lines", ArrayType(_struct(("code", StringType()), ("n", LongType())))),
        ))),
        ("tags", ArrayType(StringType())),
    ),
    "map_heavy": _struct(
        ("id", StringType()),
        ("attrs", MapType(StringType(), StringType())),
        ("metrics", MapType(StringType(), DoubleType())),
        ("flags", MapType(StringType(), BooleanType())),
    ),
}


def _scalar(rng: random.Random, dtype: DataType):
    if isinstance(dtype, StringType):
        return rng.choice(_WORDS) + str(rng.randrange(1000))
    if isinstance(dtype, LongType):
        return rng.randrange(-10**6, 10**6)
    if isinstance(dtype, DoubleType):
        # two decimals below 1e6: Spark's CAST(double AS STRING) and
        # Python's repr agree on these
        return round(rng.uniform(-99_999.0, 99_999.0), 2)
    return rng.random() < 0.5


def _value(rng: random.Random, dtype: DataType, null_p: float = 0.1):
    """A random JSON value conforming to ``dtype``."""
    if rng.random() < null_p:
        return None
    if isinstance(dtype, StructType):
        return {f.name: _value(rng, f.dataType, null_p) for f in dtype.fields}
    if isinstance(dtype, ArrayType):
        return [_value(rng, dtype.elementType, null_p / 2) for _ in range(rng.randrange(7))]
    if isinstance(dtype, MapType):
        keys = rng.sample(_MAP_KEYS, rng.randrange(len(_MAP_KEYS) // 2 + 1))
        return {k: _scalar(rng, dtype.valueType) for k in keys}
    return _scalar(rng, dtype)


def generate(shape: str, seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` documents of ``shape``; the same seed gives the same
    documents. Ids are unique within a batch."""
    rng = random.Random(f"{seed}:{shape}")
    schema = SCHEMAS[shape]
    docs = []
    for i in range(n_docs):
        doc = {f.name: _value(rng, f.dataType) for f in schema.fields[1:]}
        docs.append({"id": f"{shape[:2]}{seed}-{i:07d}", **doc})
    return docs


def write_jsonl(path: str, docs: list[dict]) -> None:
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d, separators=(",", ":")))
            f.write("\n")


def rowkey(doc_id: str) -> str:
    """Python twin of ``hbase.derive_rowkey(id, salt_len=2)``."""
    return hashlib.md5(doc_id.encode()).hexdigest()[:SALT_LEN] + SEP + doc_id


def _escape(key: str) -> str:
    return key.replace("\\", "\\\\").replace(".", "\\.")


def _canonical(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _walk(value, dtype: DataType, path: str, out: list[tuple[str, str]]) -> None:
    if value is None:
        return
    if isinstance(dtype, StructType):
        for f in dtype.fields:
            _walk(value.get(f.name), f.dataType, f"{path}.{_escape(f.name)}", out)
    elif isinstance(dtype, ArrayType):
        for i, v in enumerate(value):
            _walk(v, dtype.elementType, f"{path}.{i}", out)
    elif isinstance(dtype, MapType):
        for k, v in value.items():
            _walk(v, dtype.valueType, f"{path}.{_escape(k)}", out)
    else:
        out.append((path, _canonical(value)))


def reference_cells(doc: dict, schema: StructType) -> list[tuple[str, str]]:
    """(qualifier, value) cells ``kv_flatten`` must emit for ``doc``."""
    out: list[tuple[str, str]] = []
    for f in schema.fields:
        _walk(doc.get(f.name), f.dataType, _escape(f.name), out)
    return out


def cells_digest(cells) -> str:
    """Order-insensitive digest of (rowkey, cf, qualifier, value) cells."""
    h = hashlib.sha256()
    for c in sorted(cells):
        h.update("\x1f".join(c).encode())
        h.update(b"\x1e")
    return h.hexdigest()
