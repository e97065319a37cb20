"""Session memo for the dimension-bounded chain artifacts: the PCA
chain's components and Gram-Schmidt basis, and the PQ codebook. Each
costs a corpus pass plus an iterative chain and has several consumer
queries; the memo is reuse within a session, as in *Incremental Based
Framework for Efficient Top-K Similarity Search in Interactive Data
Analysis Sessions* (EDBT 2020).

- Bounded artifacts only: plain rows sized by the embedding dimension,
  never by the corpus. Callers build their DataFrames from the rows on
  a hit and on a miss alike, so both paths plan the same.
- Refreshed by the definer: the query whose output is the artifact
  (j121, j127, j129, j145) passes ``refresh=True``; consumers ride it.
- Never shared across processes or sessions. The key is
  ``(applicationId, name, realpath(sf_dir), (mtime_ns, size) of
  embeddings.parquet)``, so a fixture rewritten at the same path
  misses, and a store evicts every other applicationId's entries.

No lock: threads racing on a miss compute and store equal values, dict
get/set are atomic, and eviction walks a snapshot of the keys with
``pop(k, None)``.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import SparkSession

_store: dict[tuple, Any] = {}


def _key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    real = os.path.realpath(sf_dir)
    try:
        st = os.stat(os.path.join(real, "embeddings.parquet"))
        marker = (st.st_mtime_ns, st.st_size)
    except OSError:
        marker = (0, 0)
    return (spark.sparkContext.applicationId, name, real, marker)


def get(spark: SparkSession, sf_dir: str, name: str) -> Any:
    """The stored value of ``name`` for this session and fixture, or None."""
    return _store.get(_key(spark, sf_dir, name))


def put(spark: SparkSession, sf_dir: str, name: str, value: Any) -> None:
    """Store ``value``, replacing any entry, and evict other sessions'."""
    key = _key(spark, sf_dir, name)
    for k in list(_store):
        if k[0] != key[0]:
            _store.pop(k, None)
    _store[key] = value


def cached(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    compute: Callable[[], Any],
    refresh: bool = False,
) -> Any:
    """The stored value on a hit; on a miss or ``refresh``, ``compute()``'s
    value, stored."""
    value = None if refresh else get(spark, sf_dir, name)
    if value is None:
        value = compute()
        put(spark, sf_dir, name, value)
    return value
