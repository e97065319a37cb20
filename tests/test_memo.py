"""The session memo (``json2hbase_spark.memo``) without Spark: a stub
session carries a fixed applicationId."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from json2hbase_spark import memo


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def _empty_store(monkeypatch):
    monkeypatch.setattr(memo, "_store", {})


def test_names_do_not_share_and_a_rewritten_fixture_misses(tmp_path):
    spark = _session("app")
    emb = tmp_path / "embeddings.parquet"
    emb.write_bytes(b"x" * 10)
    sf = str(tmp_path)

    memo.put(spark, sf, "eigvec", "eig")
    assert memo.get(spark, sf, "gs_basis") is None
    assert memo.cached(spark, sf, "gs_basis", lambda: "basis") == "basis"
    assert memo.get(spark, sf, "eigvec") == "eig"
    assert memo.cached(spark, sf, "eigvec", lambda: "recomputed") == "eig"
    assert memo.cached(spark, sf, "eigvec", lambda: "new", refresh=True) == "new"

    # same path, new content of another size (mtime kept): every name misses
    st = emb.stat()
    emb.write_bytes(b"y" * 20)
    os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert memo.get(spark, sf, "eigvec") is None
    assert memo.get(spark, sf, "gs_basis") is None
    assert memo.cached(spark, sf, "eigvec", lambda: "fresh") == "fresh"
    # same size, new mtime: misses too
    os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert memo.get(spark, sf, "eigvec") is None


def test_another_session_misses_and_is_evicted_on_store(tmp_path):
    sf = str(tmp_path)
    old, new = _session("old"), _session("new")
    memo.put(old, sf, "eigvec", 1)
    assert memo.get(new, sf, "eigvec") is None
    memo.put(new, sf, "pq_cents", 2)
    assert all(k[0] == "new" for k in memo._store)


def test_eviction_survives_concurrent_writers():
    """The eviction walks a snapshot of the keys: another thread
    inserting a key, or evicting one first, while it runs must not
    raise. Reading a stale key's app id here stands in for such a
    thread switch."""
    store = memo._store

    class RacyKey(tuple):
        def __getitem__(self, i):
            store.pop(RacyKey(("dead", 1)), None)  # evicted elsewhere first
            store[("live", len(store))] = "inserted"
            store[("live", len(store))] = "inserted"
            return tuple.__getitem__(self, i)

    store.update({RacyKey(("dead", 0)): 0, RacyKey(("dead", 1)): 1, ("live", "k"): 2})
    memo.put(_session("live"), "/nonexistent", "eigvec", 3)
    assert all(k[0] == "live" for k in list(store))
    assert store[("live", "k")] == 2
    assert memo.get(_session("live"), "/nonexistent", "eigvec") == 3


def test_a_symlinked_fixture_path_shares_the_entry(tmp_path):
    real = tmp_path / "sf"
    real.mkdir()
    (tmp_path / "alias").symlink_to(real)
    spark = _session("app")
    memo.put(spark, str(tmp_path / "alias"), "eigvec", 1)
    assert memo.get(spark, str(real), "eigvec") == 1


def test_concurrent_stores_keep_every_live_entry(tmp_path):
    """Eight threads (more than the four cores), a short switch
    interval: each stores and reads back its own name in one live
    session while dead-session keys keep arriving. No call raises, no
    read returns another name's value, and every live entry survives."""
    import sys
    import threading

    sf, live = str(tmp_path), _session("live")
    errors: list = []

    def worker(i: int) -> None:
        try:
            for n in range(300):
                memo._store[(f"dead{i}", n)] = n
                got = memo.cached(live, sf, f"name{i}", lambda: i, refresh=n % 2 == 0)
                assert got == i and memo.get(live, sf, f"name{i}") == i
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(memo.get(live, sf, f"name{i}") == i for i in range(8))
