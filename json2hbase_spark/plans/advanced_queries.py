"""Advanced composite operators: duplicate-cluster connected
components, iterative k-means, and skew-salted aggregation — the
"beyond single-pass SQL" tier of the engine (SURVEY.md §2 J20/J21/C10).

Scale notes inline per operator; the common theme is that iteration
happens as a bounded chain of narrow joins/aggregations (each one a
normal shuffle Catalyst can plan), never as driver-side loops over
collected data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark.functions.exact import QCENT_AVG
from json2hbase_spark.io import load
from json2hbase_spark.materialize import materialize
from json2hbase_spark.plans.llm_queries import j2v_jaccard_verify
from json2hbase_spark.registry import query

# bounded propagation depth: min-label reaches everything within
# COMPONENT_HOPS edges. Edges only exist inside a 40-char-prefix
# block (docs in different blocks never meet), so component diameter
# is bounded by block size (~2-3 docs in the fixtures); 3 hops covers
# it while keeping the op deterministic and oracle-expressible
# (bounded recursion in DuckDB).
COMPONENT_HOPS = 3

def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic near-dup edge set: j2v's pairs (the blocked
    exact-Jaccard kernel, ``dedup.block_pairs`` at J >= 0.3) without
    the score — no hash functions, so engine-independent."""
    return j2v_jaccard_verify(spark, sf_dir).select("doc_a", "doc_b")


DUCK_DUP_EDGES = """
    WITH normed AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS (
      SELECT doc_id, substr(norm, 1, 40) AS block,
             list_distinct(list_transform(range(1, greatest(len(norm) - 7, 0) + 1),
                                          i -> substr(norm, i, 8))) AS shingles
      FROM normed WHERE len(norm) >= 8
    ),
    edges AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
            >= 0.3
    )
"""


# recursive-CTE twin of the min-label propagation, ending at comp
# (doc_id, component) — shared by j20's stats and j26's canonical pick
DUCK_COMP_CTES = (
    DUCK_DUP_EDGES.replace("WITH normed", "WITH RECURSIVE normed")
    + f"""
    , nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM edges UNION SELECT doc_b FROM edges
      )
    ),
    bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    reach(node, reached, depth) AS (
      SELECT doc_id, doc_id, 0 FROM nodes
      UNION
      SELECT r.node, bi.dst, r.depth + 1
      FROM reach r JOIN bi ON bi.src = r.reached
      WHERE r.depth < {COMPONENT_HOPS}
    ),
    comp AS (SELECT node AS doc_id, min(reached) AS component FROM reach GROUP BY node)
"""
)


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) assignment of every near-dup-graph node to its
    component's min doc_id — shared by j20 (cluster stats), j26
    (canonical-doc pick) and j107 (cluster-safe split)."""
    # materialize the edge set once: every propagation hop references
    # it, and without truncation the shingle-join subtree would be
    # re-evaluated per hop (measured 20.8s -> ~3s at sf0.01). The edge
    # list is the small invariant of the iteration — exactly what you
    # checkpoint at 100 TB too.
    edges = materialize(_dup_edges(spark, sf_dir))
    return _labels_from_edges(edges)


def _labels_converged(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """True connected-component min-labels: min-label propagation with
    POINTER DOUBLING (each round folds in neighbors' labels AND the
    label's own label, so reach grows up to ~2^rounds — min-label flow
    is graph-dependent; `rounds` = 8 is the EMPIRICAL ceiling with
    margin: 4 rounds fails the convergence tripwire on the sf0.001
    winnow-pair graph, 6 fails on the alphabet-rotated ×10 tripwire
    corpus, 8 passes both). Labels are materialized every other round
    and after the last to keep the lineage flat (tiny jobs over the
    component node set — the per-iteration checkpoint cadence you'd
    run at 100 TB).

    ADAPTIVE EARLY-EXIT (VERDICT r8): at every materialization point
    a driver-side scalar count of edges still straddling two labels
    decides whether to keep doubling — the standard iterative-control
    read of every fixpoint algorithm on Spark (k-means, connected
    components in GraphFrames do exactly this). Typical graphs
    converge in 4–6 rounds, so the exit saves the tail rounds the
    fixed ceiling always paid, while a pathological chain still gets
    the full `rounds` budget. The count runs over the materialized
    tiny label table + edge set — a bounded scalar, not a
    driver-side data loop.

    Used where the edge graph has NO structural diameter bound (j108's
    winnow-pair chains — unlike j20's Jaccard blocks, where diameter ≤
    block size justifies the cheap 3-hop form). An in-plan assert_true
    ERRORS if any edge still straddles two labels after the rounds, so
    an unconverged run surfaces as a failure instead of silently-split
    clusters (the tripwire stays ARMED even when the early-exit fires:
    defense in depth against a future edit breaking the exit check);
    the oracle twin is an unbounded (fixpoint) recursive CTE, which is
    exactly what convergence makes equal.

    Join strategy: ``materialize`` broadcast-hints the edge table and
    each materialized label table when its exact size fits Spark's
    broadcast threshold; larger ones (the 100 TB path, where the edge
    set grows with duplication density × corpus) stay sort-merge."""
    nodes = (
        edges.select(F.col("doc_a").alias("node"))
        .unionByName(edges.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    bi = materialize(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )

    def straddling(lbl: DataFrame) -> DataFrame:
        la = lbl.select(F.col("node").alias("src"), F.col("label").alias("la"))
        lb = lbl.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
        return bi.join(la, "src").join(lb, "dst").filter(F.col("la") != F.col("lb"))

    labels = nodes.select("node", F.col("node").alias("label"))
    for r in range(rounds):
        nbr = bi.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        jump = labels.join(
            labels.select(F.col("node").alias("label"), F.col("label").alias("jl")),
            "label",
        ).select("node", F.col("jl").alias("label"))
        labels = (
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # flatten lineage every OTHER round (each un-materialized
        # round adds 3 joins of the label table — two rounds of
        # that is fine, more makes Catalyst re-plan an
        # exponentially bushy tree), and ALWAYS after the last
        # (three consumers read the final labels: the convergence
        # check and both cluster-stat aggs — without the cut they
        # would each re-execute the whole chain); at 100 TB this
        # IS the per-iteration checkpoint cadence.
        if r % 2 == 1 or r == rounds - 1:
            labels = materialize(labels)
            if straddling(labels).limit(1).count() == 0:
                break
    bad = straddling(labels).agg(F.count("*").alias("_nbad"))
    return (
        labels.crossJoin(F.broadcast(bad))
        .where(
            F.assert_true(
                F.col("_nbad") == 0,
                F.lit("label propagation unconverged — raise `rounds`"),
            ).isNull()
        )
        .drop("_nbad")
    )


def _labels_from_edges(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an already-materialized edge table
    (callers that also need the edges reuse one materialization)."""
    nodes = (
        edges.select(F.col("doc_a").alias("node"))
        .unionByName(edges.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    bi = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(COMPONENT_HOPS):
        nbr = (
            bi.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .select(F.col("src").alias("node"), "label")
        )
        labels = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
    return labels


@query(
    "j20_dup_components",
    oracle=DUCK_COMP_CTES
    + """
    SELECT component,
           COUNT(*) AS n_docs,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM comp
    GROUP BY component
    """,
)
def j20_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters as connected components of the verified
    near-dup graph: iterative min-label propagation, one narrow
    join + min-agg per hop (the map-reduce CC algorithm; large-star/
    small-star is the optimization at web scale, min-label is the
    right shape for the small-diameter clusters dedup produces).
    Bounded at COMPONENT_HOPS so the plan is static and the DuckDB
    twin (bounded recursive CTE) computes the identical fixpoint."""
    labels = _component_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_docs"),
        F.min("node").alias("min_doc"),
        F.max("node").alias("max_doc"),
    )




def _duck_sqdist(a: str, b: str) -> str:
    """DuckDB twin of the Spark zip_with/aggregate squared-distance
    fold — same per-element double ops, same sequential sum."""
    return (
        f"list_aggregate(list_transform(range(1,65),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def kmeans_ctes(iters: int = 3) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs ending in
    ``af(vec_id, cluster)`` (plus ``v(vec_id, ve)`` with double
    vectors): every arithmetic step (double sqdist folds, argmin
    tie-break, quantized-integer centroid averages) is bit-identical
    to the Spark plan, so iterative algorithms built on the
    assignments hash-match end-to-end — no rows-only fallback. Shared
    by j21 and the SemDeDup oracle (corpus_queries.j43)."""
    q = (
        "CAST(SUM(CAST(floor(ve[i.i + 1] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
        " / (COUNT(*) * 1000000)"
    )
    parts = [
        "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve"
        " FROM embeddings)",
        "c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, ve AS ce FROM v WHERE vec_id < 10)",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, ve, cluster FROM (
        SELECT v.vec_id, v.ve, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_duck_sqdist('v.ve', 'c.ce')}, c.cluster) AS rn
        FROM v, {prev} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""cl{it} AS (
      SELECT cluster, i.i AS pos, {q} AS cv
      FROM a{it}, (SELECT unnest(range(64)) AS i) i GROUP BY 1, 2)"""
        )
        parts.append(
            f"c{it} AS (SELECT cluster, list(cv ORDER BY pos) AS ce FROM cl{it} GROUP BY cluster)"
        )
        prev = f"c{it}"
    parts.append(
        f"""af AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_duck_sqdist('v.ve', 'c.ce')}, c.cluster) AS rn
        FROM v, {prev} c) WHERE rn = 1)"""
    )
    return ",\n".join(parts)


def _kmeans_oracle(iters: int = 3) -> str:
    return (
        kmeans_ctes(iters)
        + "\nSELECT cluster, COUNT(*) AS n_members, min(vec_id) AS min_vec FROM af GROUP BY cluster"
    )


def kmeans_assign(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 3,
    k: int = 10,
    materialize_every: int = 8,
) -> DataFrame:
    """Lloyd's k-means assignment plan (k seeded from vec_id 0..k-1,
    deterministic argmin tie-break by cluster id): returns
    (vec_id, v, cluster) after ``iters`` rounds. Spark twin of
    ``kmeans_ctes``'s ``af`` at the oracle-pinned k=10; larger k is
    the scale dial (operators/scaling.auto_kmeans_k chooses k ∝ n so
    SemDeDup cells stay bounded). Shared by j21 and j43.

    Iterations CHAIN as one lineage (each centroid subtree appears
    exactly once in the final tree, so total work is identical to a
    per-iteration barrier) and only materialize every
    ``materialize_every`` rounds to bound plan depth for deep loops.
    Round-13 change: the former per-iteration localCheckpoint cost
    2 extra driver actions per round (checkpoint job + broadcast
    re-collect of the checkpointed RDD) and left k-row RDD blocks for
    ContextCleaner to chase — measured 27 driver jobs per j43 run,
    pure orchestration at any scale. Chained, one action covers the
    whole loop and the broadcast exchanges pipeline inside it."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").alias("v"))

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    centroids = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("c"),
    )

    def assign(cents: DataFrame) -> DataFrame:
        # argmin by (d, cluster) as ONE map-side-combinable hash agg:
        # min(struct(d, cluster, v)) — cluster ids are distinct per
        # vec, so the struct order is total and v merely rides along.
        # Bit-identical to the former row_number-over-(d, cluster)
        # window but with no per-vector sort (r9: the window's
        # Exchange+Sort per iteration was pure overhead at every
        # scale — an argmin is an aggregation, not an ordering).
        return (
            vecs.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        sqdist(F.col("v"), F.col("c")).alias("d"),
                        F.col("cluster").alias("cluster"),
                        F.col("v").alias("v"),
                    )
                ).alias("s")
            )
            .select(
                "vec_id", F.col("s.v").alias("v"), F.col("s.cluster").alias("cluster")
            )
        )

    for it in range(iters):
        centroids = (
            assign(centroids)
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.expr(QCENT_AVG.format(v="val")).alias("cv"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
                ).alias("c")
            )
        )
        if materialize_every and (it + 1) % materialize_every == 0 and it + 1 < iters:
            centroids = materialize(centroids)
    return assign(centroids)


@query("j21_kmeans", oracle=_kmeans_oracle(3))
def j21_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=10, 3 iterations) over the embedding column,
    entirely as DataFrame plans: assignment is a broadcast crossJoin +
    window argmin, the update step is the posexplode/avg centroid agg.
    Deterministic: seeded from vec_id 0..9, ties broken by cluster id.
    At 100 TB each iteration is one broadcast pass + one hash agg over
    (cluster, dim) — no driver-side math. Iterations chain as ONE
    lineage (each centroid subtree occurs once in the tree, so no
    re-execution — see kmeans_assign); deep loops bound plan depth
    via ``materialize_every``.

    FULLY hash-checked despite being iterative: centroid updates use
    the quantized-integer average (exact.QCENT_AVG) and distances are
    sequential double folds, so every iteration is bit-identical to
    the DuckDB twin (_kmeans_oracle unrolls the three Lloyd steps as
    CTEs) — the argmin assignments, and therefore the final clusters,
    match exactly."""
    final = kmeans_assign(spark, sf_dir, iters=3)
    return final.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.min("vec_id").alias("min_vec"),
    )


@query(
    "c10_join_salted",
    oracle="""
    SELECT e.user_id, c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def c10_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join: the fact side gets a random-free salt
    (hash of a second column mod 8), the dim side is exploded 8× so
    every salted key finds its row; results are identical to the plain
    join (the oracle IS the plain join). At 100 TB this caps any hot
    key's partition at 1/8 of its volume; here AQE's skew splitting
    would also kick in, but explicit salting works on any Spark and
    demonstrates the technique the SURVEY §4 posture names."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")
    n_salt = 8
    salted_ev = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt)))
    salted_cust = cust.select(
        "c_custkey", "c_mktsegment", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt")
    ).withColumn("salt", F.col("salt").cast("bigint"))
    joined = salted_ev.join(
        salted_cust,
        (salted_ev.user_id == salted_cust.c_custkey) & (salted_ev.salt == salted_cust.salt),
    )
    return joined.groupBy("user_id", "c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)").alias("sum_value"),
    )


@query(
    "c11_join_range_bucketed",
    oracle="""
    WITH p AS (
      SELECT user_id, ts::TIMESTAMP AS pts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts::TIMESTAMP AS cts, event_id
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.purchase_id, COUNT(c.event_id) AS n_clicks
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.cts >= p.pts - INTERVAL 1 HOUR
     AND c.cts <= p.pts
    GROUP BY 1, 2
    """,
)
def c11_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (clicks within the hour before each purchase) as a
    bucket-aligned EQUI-join: both sides get an hour-bucket key, the
    probe side explodes to the 2 buckets its 1 h window can touch, and
    the exact range predicate filters after the hash join. A naive
    range join degenerates to per-user nested loops (or BNLJ without an
    equi key); bucketing bounds every probe to two hash partitions —
    the standard time-series range-join shape at 100 TB."""
    ev = load(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
        F.expr(f"unix_micros(ts) div {hour_us}").alias("pbkt"),
    )
    probes = p.withColumn("bkt", F.explode(F.array(F.col("pbkt"), F.col("pbkt") - 1)))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
        F.expr(f"unix_micros(ts) div {hour_us}").alias("cbkt"),
    )
    joined = probes.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("bkt") == F.col("cbkt"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
        "left",
    )
    return joined.groupBy("user_id", "purchase_id").agg(
        F.count("cid").alias("n_clicks")
    )


# ---------------------------------------------------------------- j26

# stopword list shared verbatim with j12's quality score
_STOPWORDS = "'the','a','of','and','to','in','is','on','for','with'"

DUCK_QUALITY = f"""
      SELECT doc_id,
             round(ln(1 + len(list_filter(string_split(text, ' '), x -> x != '')))
                   * (1.0 - CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                            / greatest(len(text), 1))
                   * (0.5 + CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                                t -> list_contains([{_STOPWORDS}], t))) AS DOUBLE)
                        / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)),
                   4) AS quality
      FROM documents
"""


@query(
    "j26_canonical_pick",
    oracle=DUCK_COMP_CTES
    + f"""
    , q AS ({DUCK_QUALITY}),
    ranked AS (
      SELECT c.component, c.doc_id, q.quality,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.quality DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_docs
      FROM comp c JOIN q USING (doc_id)
    )
    SELECT component, doc_id AS canonical_doc, n_docs, quality AS best_quality
    FROM ranked WHERE rn = 1
    """,
)
def j26_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster: the step a
    dedup pipeline runs AFTER clustering — keep the highest-quality
    member (j12's heuristic score, rounded to 4 so ranking is
    engine-stable; ties to the lowest doc_id) and drop the rest. One
    join of the (small) component labels against per-doc quality plus
    one window — the cluster table is tiny relative to the corpus, so
    at 100 TB this is a broadcast join against a quality scan."""
    from json2hbase_spark.operators.text import quality_features, whitespace_tokens

    labels = _component_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    toks = whitespace_tokens(F.col("text"))
    n_tok = F.greatest(feats["n_tokens"], F.lit(1))
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
            )
        ).cast("double")
        / n_tok
    )
    quality = F.round(
        F.log(1 + feats["n_tokens"]) * (1.0 - feats["digit_ratio"]) * (0.5 + stop_ratio), 4
    )
    q = docs.select("doc_id", quality.alias("quality"))
    joined = labels.join(q, labels.node == q.doc_id).select(
        F.col("label").alias("component"), "doc_id", "quality"
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_doc"),
            "n_docs",
            F.col("quality").alias("best_quality"),
        )
    )


EVAL_HEX_CUT = "1a"  # md5 first-2-hex < '1a' → eval: 26/256 ≈ 10.2%


@query(
    "j107_cluster_safe_split",
    oracle=DUCK_COMP_CTES
    + f"""
    , rep AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS rep,
             (c.doc_id IS NOT NULL) AS clustered
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    split AS (
      SELECT doc_id, rep, clustered,
             CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < '{EVAL_HEX_CUT}'
                  THEN 'eval' ELSE 'train' END AS split
      FROM rep
    ),
    straddle AS (
      SELECT COUNT(*) AS n FROM edges e
      JOIN split sa ON sa.doc_id = e.doc_a
      JOIN split sb ON sb.doc_id = e.doc_b
      WHERE sa.split != sb.split
    )
    SELECT s.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s.clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered,
           CAST(COUNT(DISTINCT s.rep) AS BIGINT) AS n_groups,
           CAST(MIN(st.n) AS BIGINT) AS n_straddling_edges
    FROM split s, straddle st
    GROUP BY s.split
    """,
)
def j107_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware leakage-safe train/eval split — the production
    upgrade of j71's block-key split: the split unit is the NEAR-DUP
    CLUSTER (j20's connected component; singletons are their own
    unit), assigned by content hash of the cluster representative, so
    a doc and its near-duplicates land on the SAME side by
    construction — eval can never be contaminated by a train
    near-copy that exact-key splitting misses. The report proves it:
    n_straddling_edges counts verified near-dup edges crossing the
    split and must be 0 (pinned by test); per split: docs, clustered
    docs, distinct split units. Content-hash thresholding (md5 first
    bytes < 0x{EVAL_HEX_CUT}) keeps the split rerun-identical and
    engine-agnostic (j83's convention) at ≈10% eval.

    Plan: reuses the banded near-dup edge table (materialized ONCE,
    shared by the label propagation and the straddle audit), j20's
    bounded min-label propagation, one left join of labels onto the
    corpus, and two id-keyed joins of the tiny edge set for the
    audit. The split ASSIGNMENT is materialized before the audit
    reads it: three consumers (both straddle-join sides + the per-
    split rollup) would otherwise each re-execute the propagation
    chain — measured as a reproducible 12 s cold run vs 2.3 s steady
    at sf0.1 (26 SMJs / 75 exchanges of codegen + shuffle warm;
    adjudicated round 10, BASELINE.md). Materializing is also the
    production posture: the split assignment IS the artifact a
    trainer consumes, so at 100 TB you checkpoint this narrow
    (doc_id, rep, split) table and audit the checkpoint. With the cut
    the whole query is: dedup cost + one label join + two id-keyed
    audit joins of a flat table."""
    edges = materialize(_dup_edges(spark, sf_dir))
    labels = _labels_from_edges(edges)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    rep = docs.join(
        labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("rep"),
        F.col("label").isNotNull().alias("clustered"),
    )
    split_col = F.when(
        F.substring(F.md5(F.col("rep").cast("string")), 1, 2) < EVAL_HEX_CUT,
        "eval",
    ).otherwise("train")
    split = materialize(rep.withColumn("split", split_col))
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    straddle = (
        edges.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("sp_a") != F.col("sp_b"))
        .agg(F.count("*").cast("bigint").alias("n_straddling_edges"))
    )
    return (
        split.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("clustered").cast("int")).cast("bigint").alias("n_clustered"),
            F.countDistinct("rep").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(straddle))
    )
