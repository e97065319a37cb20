"""CLI parity test: the `python -m json2hbase_spark` surface mirrors
the reference utility's one-pass JSON→HBase ETL (SURVEY.md §3.1)."""

from __future__ import annotations

import json

from json2hbase_spark.__main__ import run


def test_cli_end_to_end(spark, tmp_path):
    src = tmp_path / "docs.jsonl"
    src.write_text(
        "\n".join(
            [
                json.dumps({"id": 1, "name": "alice", "addr": {"city": "oslo"}, "tags": ["a", "b"]}),
                json.dumps({"id": 2, "name": "bob", "addr": {"city": None}, "tags": []}),
            ]
        )
    )
    out = tmp_path / "table"
    status = run(
        [
            "--input", str(src),
            "--rowkey", "id",
            "--output", str(out),
            "--regions", "2",
        ]
    )
    assert status["cells"] == 7  # null city and empty tags emit nothing

    cells = {
        (r.rowkey, r.qualifier): r.value
        for r in spark.read.parquet(str(out)).collect()
    }
    assert cells[("1", "addr.city")] == "oslo"
    assert cells[("1", "tags.0")] == "a"
    assert cells[("1", "tags.1")] == "b"
    assert ("2", "addr.city") not in cells
    assert cells[("2", "name")] == "bob"


def test_cli_salted_rowkeys_write_disjoint_regions(spark, tmp_path):
    import hashlib
    import os

    import pyarrow.parquet as pq

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps({"id": i, "v": f"x{i}"}) for i in range(60)))
    out = tmp_path / "table"
    status = run(
        ["--input", str(src), "--rowkey", "id", "--output", str(out), "--regions", "4", "--salt", "2"]
    )
    assert status["cells"] == 120  # "id" and "v" per document

    rowkeys = {r.rowkey for r in spark.read.parquet(str(out)).select("rowkey").collect()}
    assert rowkeys == {hashlib.md5(str(i).encode()).hexdigest()[:2] + f"#{i}" for i in range(60)}
    ranges = []
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            keys = pq.read_table(out / f, columns=["rowkey"]).column("rowkey").to_pylist()
            assert keys == sorted(keys)
            ranges.append((keys[0], keys[-1]))
    assert len(ranges) > 1
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))


def test_avro_lite_spec_roundtrip():
    """Pure-python Avro codec: zig-zag edge values, unicode strings,
    IEEE double bit-exactness, both required codecs, multi-block
    files, and rejection of corrupt sync markers."""
    import math
    import struct

    import pytest

    from json2hbase_spark.operators.avro_lite import (
        read_container,
        record_schema,
        write_container,
    )

    schema = record_schema(
        "t", [("k", "long"), ("s", "string"), ("i", "int"), ("d", "double")]
    )
    rows = [
        (0, "", 0, 0.0),
        (-1, "a", -1, -0.0),
        (2**62, "émü ✓ é", -(2**31) + 1, 1e308),
        (-(2**62), "x" * 300, 2**31 - 1, 5e-324),
        (63, "zig", 64, math.pi),
    ]
    for codec in ("null", "deflate"):
        data = write_container(schema, iter(rows), codec=codec, block_rows=2)
        fields, back = read_container(data)
        assert [n for n, _ in fields] == ["k", "s", "i", "d"]
        assert len(back) == len(rows)
        for want, got in zip(rows, back):
            assert want[:3] == got[:3]
            assert struct.pack("<d", want[3]) == struct.pack("<d", got[3])
    corrupt = bytearray(write_container(schema, iter(rows), block_rows=100))
    corrupt[-1] ^= 0xFF  # trailing sync byte
    with pytest.raises(ValueError, match="sync"):
        read_container(bytes(corrupt))


def test_avro_lite_write_validation():
    """Writer-side validation (ADVICE r11): unknown codecs fail AT
    WRITE instead of stamping their name over an uncompressed payload,
    and out-of-range ints fail at write instead of emitting >10-byte
    varints only this codec could read back."""
    import pytest

    from json2hbase_spark.operators.avro_lite import (
        record_schema,
        write_container,
    )

    schema = record_schema("t", [("k", "long"), ("i", "int")])
    with pytest.raises(ValueError, match="unsupported codec"):
        write_container(schema, iter([(1, 1)]), codec="snappy")
    with pytest.raises(ValueError, match="int64"):
        write_container(schema, iter([(2**63, 0)]))
    with pytest.raises(ValueError, match="int64"):
        write_container(schema, iter([(-(2**63) - 1, 0)]))
    with pytest.raises(ValueError, match="int32"):
        write_container(schema, iter([(0, 2**31)]))
    # boundary values still round-trip
    from json2hbase_spark.operators.avro_lite import read_container

    ok = [(2**63 - 1, 2**31 - 1), (-(2**63), -(2**31))]
    _, back = read_container(write_container(schema, iter(ok)))
    assert back == ok
