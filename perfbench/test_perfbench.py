"""Tests of the benchmark itself: seeded inputs, the reference
flattening, and the metric contract with BENCHMARK.json.

    python -m pytest perfbench -q

``test_every_workload_reports_every_metric`` runs each workload once
untraced and once traced, 45-80 s a run on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixtures  # noqa: E402
import ingest_docs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("shape", ingest_docs.SHAPES)
def test_ingest_docs_are_deterministic_per_seed(shape):
    a = ingest_docs.generate(shape, 7, 40)
    assert a == ingest_docs.generate(shape, 7, 40)
    assert a != ingest_docs.generate(shape, 8, 40)
    assert len({d["id"] for d in a}) == 40


def test_fixture_tables_are_deterministic_per_seed():
    a = fixtures.generate(seed=42, sf=0.001)
    b = fixtures.generate(seed=42, sf=0.001)
    assert set(a) == set(fixtures.TABLES)
    assert all(a[t].equals(b[t]) for t in fixtures.TABLES)
    assert not a["lineitem"].equals(fixtures.generate(seed=43, sf=0.001)["lineitem"])


def test_op_order_is_seeded(tmp_path):
    def orders(seed):
        w = workloads.WORKLOADS["query_mix"](seed, str(tmp_path), str(tmp_path))
        return [[op.name for op in w.order()] for _ in range(3)]

    assert orders(5) == orders(5)
    assert orders(5) != orders(6)


# FIXTURES.md section 2: the canonical document and exactly the cells
# kv_flatten emits for it with rowkey=id (the id column gives no cell).
GOLDEN_DOC = {
    "id": "u001",
    "name": "Ada",
    "active": True,
    "score": 9.75,
    "address": {"city": "Lima", "geo": {"lat": -12.05, "lon": -77.04}},
    "tags": ["a", "b"],
    "orders": [{"sku": "X1", "qty": 2}, {"sku": "X2", "qty": 1}],
    "nickname": None,
}
GOLDEN_SCHEMA = StructType([
    StructField("name", StringType()),
    StructField("active", BooleanType()),
    StructField("score", DoubleType()),
    StructField("address", StructType([
        StructField("city", StringType()),
        StructField("geo", StructType([StructField("lat", DoubleType()), StructField("lon", DoubleType())])),
    ])),
    StructField("tags", ArrayType(StringType())),
    StructField("orders", ArrayType(StructType([StructField("sku", StringType()), StructField("qty", LongType())]))),
    StructField("nickname", StringType()),
])
GOLDEN_CELLS = [
    ("name", "Ada"), ("active", "true"), ("score", "9.75"),
    ("address.city", "Lima"), ("address.geo.lat", "-12.05"), ("address.geo.lon", "-77.04"),
    ("tags.0", "a"), ("tags.1", "b"),
    ("orders.0.sku", "X1"), ("orders.0.qty", "2"), ("orders.1.sku", "X2"), ("orders.1.qty", "1"),
]


def test_reference_flattening_matches_golden_rows():
    assert ingest_docs.reference_cells(GOLDEN_DOC, GOLDEN_SCHEMA) == GOLDEN_CELLS


def test_reference_flattening_variants():
    schema = StructType([
        StructField("a.b", LongType()),
        StructField("nested", StructType([StructField("c.d", LongType())])),
        StructField("tags", ArrayType(StringType())),
        StructField("m", MapType(StringType(), StringType())),
        StructField("e", StructType([StructField("x", LongType())])),
    ])
    doc = {"a.b": 1, "nested": {"c.d": 2}, "tags": [], "m": {"k": "v", "a\\b": "w"}, "e": {}}
    assert ingest_docs.reference_cells(doc, schema) == [
        ("a\\.b", "1"), ("nested.c\\.d", "2"), ("m.k", "v"), ("m.a\\\\b", "w"),
    ]


def test_net_of_steal_removes_the_stolen_share():
    # 90 busy and 10 stolen ticks: a tenth of the runnable time was stolen
    assert run.net_of_steal(2.0, (100, 5), (190, 15)) == pytest.approx(1.8)
    assert run.net_of_steal(2.0, (100, 5), (100, 5)) == 2.0


def test_benchmark_json_names_every_metric_and_workload():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_every_workload_reports_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
