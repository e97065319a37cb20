"""Vector similarity operators (SURVEY.md §2 J3/J4/J5/J10).

All vector math is native Catalyst higher-order functions
(``zip_with`` + ``aggregate``) — JVM-side, codegen'd, no Python. The
fold is SEQUENTIAL over the array, which makes results bit-identical
to any engine that folds in list order (the DuckDB oracles use
``list_aggregate(list_transform(...), 'sum')`` with the same per-element
double math — so similarity scores compare exactly, no rounding).

Scale paths:
- brute-force top-k: broadcast the (small) query set against the
  candidate corpus — no shuffle on the big side, heap-based rank
  filter per query.
- LSH-bucketed ANN: random-hyperplane signs bucket candidates; only
  same-bucket pairs are scored — O(n·probes) instead of O(n·q).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(norm2(a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """j10: unit-length embedding (pre-normalize once so cosine becomes
    a plain dot product downstream — the 100 TB trick)."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def _broadcast_topk_by_cosine(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    join_cond,
    q_id: str,
    q_vec: str,
    c_id: str,
    c_vec: str,
) -> DataFrame:
    """Shared shape for the broadcast-queries × candidate-scan top-k
    family: join on ``join_cond`` (evaluated before any vector fold
    runs), score by cosine, rank row_number over (sim DESC, c_id) —
    ONE copy of the scoring/tie-break contract so cosine_topk and
    hard_negatives cannot drift apart."""
    joined = candidates.join(F.broadcast(queries), join_cond)
    scored = joined.select(
        q_id, c_id, cosine(F.col(q_vec), F.col(c_vec)).alias("sim")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "cid",
    c_vec: str = "cvec",
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors per query vector.
    Queries are broadcast; the candidate scan never shuffles."""
    return _broadcast_topk_by_cosine(
        queries, candidates, k, F.col(q_id) != F.col(c_id), q_id, q_vec, c_id, c_vec
    )


def hard_negatives(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    q_id: str = "qid",
    q_vec: str = "qe",
    c_id: str = "cid",
    c_vec: str = "ce",
    q_label: str = "qlabel",
    c_label: str = "clabel",
) -> DataFrame:
    """Top-k most-similar DIFFERENT-label candidates per query — the
    hard negatives a contrastive trainer batches (DPR/Contriever).
    Same broadcast shape as ``cosine_topk``; the label anti-filter is
    evaluated in the join condition, before any vector fold runs."""
    return _broadcast_topk_by_cosine(
        queries, candidates, k, F.col(c_label) != F.col(q_label), q_id, q_vec, c_id, c_vec
    )


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id of the vector column ``vec``:
    sign bit per plane packed into an int. ``planes`` are plan-time
    constants (deterministic seeds), written as DOUBLE literals (the
    ``D`` suffix: a bare ``0.5`` parses as DECIMAL) in one SQL
    expression, so the build cost does not grow with the plane count."""
    terms = []
    for i, p in enumerate(planes):
        lits = ", ".join(f"{float(v)!r}D" for v in p)
        proj = (
            f"aggregate(zip_with(`{vec}`, array({lits}), (x, y) -> CAST(x AS DOUBLE) * y),"
            " 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {2 ** i} ELSE 0 END")
    return F.expr(" + ".join(["0", *terms]))


def ivf_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """IVF coarse quantizer: per-label centroid vectors via the
    long-format path (posexplode → hash agg → re-collect). Centroids
    use the quantized-integer average (floor(x·1e6 + .5) per element,
    exact BIGINT sum, one division): order-independent AND
    bit-identical in every engine — float round() and even
    double→DECIMAL casts both tie-break differently between engines
    on the near-boundary values mean-zero embeddings cluster at, so
    the assignment step needs this to be deterministic.
    Returns (label, centroid array<double>)."""
    long = emb.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "val"))
    cent = long.groupBy(label_col, "pos").agg(
        F.expr(
            "CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
            " / (COUNT(*) * 1000000)"
        ).alias("cv")
    )
    return cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )


def ann_topk_ivf(
    queries: DataFrame,
    emb: DataFrame,
    k: int,
    nprobe: int = 1,
    q_id: str = "qid",
    q_vec: str = "qvec",
    label_col: str = "label",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: assign each query to its ``nprobe`` nearest
    coarse centroids (broadcast — the centroid table is tiny), then
    brute-force exact cosine ONLY within the probed partitions. At
    100 TB the corpus stays partitioned by list id, so each query
    touches 1/n_lists of the data instead of all of it."""
    cents = ivf_centroids(emb, label_col, vec_col)
    qc = queries.crossJoin(F.broadcast(cents)).select(
        q_id, q_vec, label_col, cosine(F.col(q_vec), F.col("centroid")).alias("csim")
    )
    wa = Window.partitionBy(q_id).orderBy(F.desc("csim"), F.asc(label_col))
    assigned = (
        qc.withColumn("pr", F.row_number().over(wa))
        .filter(F.col("pr") <= nprobe)
        .select(q_id, q_vec, label_col)
    )
    cands = emb.select(
        F.col(label_col), F.col(vec_id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    joined = cands.join(F.broadcast(assigned), label_col).filter(F.col(q_id) != F.col("cid"))
    scored = joined.select(q_id, "cid", cosine(F.col(q_vec), F.col("cvec")).alias("sim"))
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, "cid", "sim", "rank")
    )


def ann_topk_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    planes: list[list[float]],
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "cid",
    c_vec: str = "cvec",
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's
    hyperplane bucket. Trades recall for an O(n/2^planes) candidate
    set per query — the scale path when queries are many."""
    qb = queries.withColumn("_bucket", lsh_bucket(q_vec, planes))
    cb = candidates.withColumn("_bucket", lsh_bucket(c_vec, planes))
    joined = cb.join(F.broadcast(qb), "_bucket").filter(F.col(q_id) != F.col(c_id))
    scored = joined.select(q_id, c_id, cosine(F.col(q_vec), F.col(c_vec)).alias("sim"))
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )
