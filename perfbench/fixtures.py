"""Seeded generator for the ten fixture tables the engine's queries read.

The tables follow the schemas in the repo's FIXTURES.md §1 (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), sized
like scale factor 0.01: 60,000 lineitems, 15,000 orders, 10,000 events,
500 documents and 500 64-d embeddings. Value ranges follow the same
section: dates 1995..2001, ``events.ts`` over January 2024, word-salad
documents with planted near-duplicates and no exact duplicates, unit
embeddings with a weak per-label offset.

The benchmark generates these once per checkout (seed 42) and treats
them as read-only inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SF = 0.01
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.43, 0.143, 0.143, 0.142, 0.142)
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("small", "large", "red", "blue", "hot", "old", "green", "cold")
P_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
P_TYPES = ("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_PER_DAY = 86_400 * 1_000_000


def _days_since_epoch(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype(np.int64))


def _ts_days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(_days_since_epoch(lo), _days_since_epoch(hi) + 1, n)
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n:
        if texts and rng.random() < 0.08:
            # near-duplicate: a copied prefix of an earlier document
            # with a fresh tail, so prefix-sharing pairs exist but no
            # two texts are identical
            src = texts[int(rng.integers(len(texts)))].split()
            keep = max(8, int(len(src) * rng.uniform(0.5, 0.9)))
            words = src[:keep] + [WORDS[i] for i in rng.integers(len(WORDS), size=int(rng.integers(3, 12)))]
        else:
            words = [WORDS[i] for i in rng.integers(len(WORDS), size=int(rng.integers(10, 100)))]
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    span_us = 30 * _US_PER_DAY
    gaps = rng.exponential(1.0, n)
    ts = np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    base = _days_since_epoch("2024-01-01") * _US_PER_DAY
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + ts.astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)], pa.string()),
    })


def generate(seed: int = FIXTURE_SEED, sf: float = SF) -> dict[str, pa.Table]:
    """All ten tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(_names("Customer", n_cust), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(P_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li).tolist(), pa.string()),
        "l_shipdate": _ts_days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t["events"] = _events(rng, int(1_000_000 * sf), 150)
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500)
    return t


def write(out_dir: str, seed: int = FIXTURE_SEED) -> str:
    """Write the tables as ``out_dir/<table>.parquet``; a ``.complete``
    marker makes an interrupted write visible."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, ".complete"), "w") as f:
        f.write(str(seed))
    return out_dir


def ensure(out_dir: str) -> str:
    """Generate the fixture set into ``out_dir`` unless already there."""
    if not os.path.exists(os.path.join(out_dir, ".complete")):
        write(out_dir)
    return out_dir
