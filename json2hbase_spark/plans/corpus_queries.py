"""Corpus-pipeline operators (round 4): word-n-gram near-dup scoring,
cross-document boilerplate detection, RAG chunking, bigram-LM quality
scoring, SemDeDup (cluster-then-prune embedding dedup), the dataset
report card, and the hypertable rollup cascade (fine→coarse time
aggregates computed from the fine level, continuous-aggregate style).

These extend SURVEY.md §2's J/I families with the operations a
training-data pipeline runs corpus-wide. Scale notes inline; the
common theme is that every pairwise step is blocked (rare-n-gram
blocking in j40, k-means cells in j43) so nothing is O(n²) at 100 TB,
and every rollup reuses a coarser pre-aggregate instead of rescanning
raw data (i22).

Float conventions follow functions/exact.py: int-ratio divisions are
single IEEE ops (bit-identical cross-engine, no rounding); ln+avg
scores round to 4 like j31; money-style sums stay DECIMAL until one
final cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark.io import load, widen
from json2hbase_spark.materialize import materialize
from json2hbase_spark.operators.similarity import dot as vdot
from json2hbase_spark.operators.similarity import hard_negatives, l2_norm
from json2hbase_spark.operators.text import whitespace_tokens
from json2hbase_spark.plans.advanced_queries import (
    BROADCAST_EDGE_LIMIT,
    DUCK_DUP_EDGES,
    _dup_edges,
    kmeans_assign,
    kmeans_ctes,
)
from json2hbase_spark.registry import query


def word_ngrams(w, n: int):
    """Array of space-joined word n-grams from a token array column.
    Caller must pre-filter ``size(w) >= n`` (Spark's ``sequence`` with
    start > stop would count DOWN, not return empty)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
    )


def _duck_ngrams(w: str, n: int) -> str:
    """DuckDB twin of ``word_ngrams`` — same 1-based window walk."""
    cols = ", ".join(f"{w}[i+{k}]" if k else f"{w}[i]" for k in range(n))
    return f"list_transform(range(1, len({w}) - {n - 1} + 1), i -> concat_ws(' ', {cols}))"


_DUCK_TOKS = (
    "SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x != '') AS w"
    " FROM documents"
)


# ---------------------------------------------------------------- j40

@query(
    "j40_ngram_jaccard",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    gr AS (
      SELECT DISTINCT doc_id, unnest({_duck_ngrams("w", 2)}) AS g
      FROM toks WHERE len(w) >= 2
    ),
    dfreq AS (SELECT g, COUNT(*) AS df FROM gr GROUP BY g),
    rare AS (SELECT gr.doc_id, gr.g FROM gr JOIN dfreq USING (g) WHERE df BETWEEN 2 AND 8),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM gr GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN gr ga ON ga.doc_id = c.doc_a
      JOIN gr gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_inter,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jacc
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
)
def j40_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-dup scoring with rare-n-gram blocking
    (the classic record-linkage alternative to MinHash banding): only
    document pairs sharing a bigram with corpus frequency in [2, 8]
    become candidates, then exact set Jaccard over each pair's full
    distinct-bigram sets. The df ceiling is the scale lever — common
    bigrams never generate candidates, so pair count is bounded by
    (#rare grams × df²) instead of n². The intersection join ships
    only (pair, gram) ids; Jaccard is one IEEE division of ints —
    bit-identical cross-engine, no rounding. Complements j2 (MinHash
    char shingles) with exact word-level similarity."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 2)
    )
    return ngram_jaccard_pairs(toks)


def ngram_jaccard_pairs(
    toks: DataFrame, df_min: int = 2, df_max: int = 8
) -> DataFrame:
    """Rare-bigram-blocked exact Jaccard over (doc_id, w token-array)
    rows: see j40's docstring. Candidate pairs only form on grams with
    document frequency in [df_min, df_max]."""
    grams = materialize(
        toks.select("doc_id", F.explode(word_ngrams(F.col("w"), 2)).alias("g")).distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    rare = grams.join(dfreq.filter((F.col("df") >= df_min) & (F.col("df") <= df_max)), "g")
    cand = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jacc"),
        )
    )


# ---------------------------------------------------------------- j41

@query(
    "j41_boilerplate",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    gr AS (
      SELECT DISTINCT doc_id, lang, unnest({_duck_ngrams("w", 4)}) AS g
      FROM toks WHERE len(w) >= 4
    ),
    shared AS (SELECT g FROM gr GROUP BY g HAVING COUNT(*) >= 3)
    SELECT doc_id, lang,
           COUNT(*) AS n_grams,
           CAST(COUNT(*) FILTER (g IN (SELECT g FROM shared)) AS BIGINT) AS n_boiler,
           CAST(COUNT(*) FILTER (g IN (SELECT g FROM shared)) AS DOUBLE) / COUNT(*)
             AS boiler_ratio
    FROM gr
    GROUP BY doc_id, lang
    """,
)
def j41_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (RefinedWeb-style): a word
    4-gram appearing in ≥3 distinct documents is boilerplate (headers,
    navigation, license blurbs); each doc scores the fraction of its
    distinct 4-grams that are boilerplate. Complements j32 (WITHIN-doc
    repetition): this is the ACROSS-doc repetition signal. Two hash
    aggs + one semi-join-shaped flag join, all on gram strings — at
    100 TB the shared-gram table is the only broadcast/bucketed state
    and is pruned by the HAVING floor. Ratio is one IEEE int division,
    no rounding."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", "lang", whitespace_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 4)
    )
    grams = materialize(
        toks.select(
            "doc_id", "lang", F.explode(word_ngrams(F.col("w"), 4)).alias("g")
        ).distinct()
    )
    shared = grams.groupBy("g").agg(F.count("*").alias("ndocs")).filter(F.col("ndocs") >= 3)
    flagged = grams.join(
        shared.select("g", F.lit(1).alias("is_boiler")), "g", "left"
    )
    return flagged.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
        (
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).cast("double") / F.count("*")
        ).alias("boiler_ratio"),
    )


# ---------------------------------------------------------------- j42

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@query(
    "j42_rag_chunk",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    s AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, {CHUNK_STRIDE})) AS st
      FROM toks WHERE len(w) >= 1
    )
    SELECT doc_id,
           CAST((st - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(w, st, least(st + {CHUNK_TOKENS} - 1, len(w)))) AS BIGINT)
             AS n_tok,
           md5(array_to_string(list_slice(w, st, least(st + {CHUNK_TOKENS} - 1, len(w))), ' '))
             AS chunk_hash
    FROM s
    """,
)
def j42_rag_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: overlapping fixed-token windows (64 tokens,
    stride 48 → 16-token overlap) fanned out one row per chunk, each
    carrying its token count and content hash (the dedup/join key a
    retrieval index stores). Pure expression fan-out — sequence of
    window starts, slice per start, explode — no UDF, scales linearly
    and embarrassingly parallel at 100 TB. The hash stands in for the
    chunk text so the result stays narrow (the real pipeline writes
    text to the chunk store keyed by it)."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 1)
    )
    return rag_chunks(toks)


def rag_chunks(
    toks: DataFrame, chunk_tokens: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping-window chunk fan-out over (doc_id, w) rows: see
    j42's docstring."""
    starts = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w"), F.lit(stride))).alias("st"),
    )
    chunk = F.slice(F.col("w"), F.col("st"), chunk_tokens)
    return starts.select(
        "doc_id",
        F.expr(f"CAST((st - 1) DIV {stride} AS BIGINT)").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------- j44

@query(
    "j44_bigram_logprob",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    bg AS (
      SELECT doc_id, lang, unnest({_duck_ngrams("w", 2)}) AS g
      FROM toks WHERE len(w) >= 2
    ),
    b2 AS (SELECT g, COUNT(*) AS c2 FROM bg GROUP BY g),
    b1 AS (SELECT split_part(g, ' ', 1) AS w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    vv AS (SELECT COUNT(DISTINCT split_part(g, ' ', 2)) AS v FROM bg)
    SELECT bg.doc_id, bg.lang,
           COUNT(*) AS n_bigrams,
           round(avg(ln(CAST(b2.c2 + 1 AS DOUBLE) / (b1.c1 + vv.v))), 4) AS lm2_score
    FROM bg
    JOIN b2 ON b2.g = bg.g
    JOIN b1 ON b1.w1 = split_part(bg.g, ' ', 1), vv
    GROUP BY bg.doc_id, bg.lang
    """,
)
def j44_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring (one order up from j31's
    unigram): corpus bigram counts give add-one-smoothed conditional
    probabilities p(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V); each doc scores
    the average log-probability of its bigram stream — the perplexity
    proxy that separates fluent text from shuffled-word spam, which a
    unigram model cannot see. Three hash aggs (bigram counts, left-
    context counts, vocab size) + two hash joins on the occurrence
    stream; the single-row V attaches via crossJoin (broadcast), never
    a global window. At 100 TB the count tables persist as the "LM"
    and score new corpora incrementally. ln+avg rounds to 4 per the
    exact.py convention (same as j31)."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", "lang", whitespace_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 2)
    )
    bg = materialize(
        toks.select("doc_id", "lang", F.explode(word_ngrams(F.col("w"), 2)).alias("g"))
    )
    b2 = bg.groupBy("g").agg(F.count("*").alias("c2"))
    b1 = (
        bg.select(F.expr("split_part(g, ' ', 1)").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    vv = bg.select(F.expr("split_part(g, ' ', 2)").alias("w2")).agg(
        F.countDistinct("w2").alias("v")
    )
    scored = (
        bg.join(b2, "g")
        .withColumn("w1", F.expr("split_part(g, ' ', 1)"))
        .join(b1, "w1")
        .crossJoin(F.broadcast(vv))
        .withColumn(
            "logp", F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")))
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("lm2_score"),
    )


# ---------------------------------------------------------------- j43

SEMDEDUP_TAU = 0.35


def _duck_pair_dot(a: str, b: str) -> str:
    return f"list_aggregate(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), 'sum')"


@query(
    "j43_semdedup",
    oracle=kmeans_ctes(3)
    + f""",
    vn AS (
      SELECT vec_id, ve, sqrt({_duck_pair_dot("ve", "ve")}) AS nrm FROM v
    ),
    sd AS (
      SELECT a.cluster, b.vec_id AS vec_b,
             {_duck_pair_dot("va.ve", "vb.ve")} / (va.nrm * vb.nrm) AS sim
      FROM af a
      JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN vn va ON va.vec_id = a.vec_id
      JOIN vn vb ON vb.vec_id = b.vec_id
    ),
    pr AS (
      SELECT cluster, COUNT(DISTINCT vec_b) AS n_pruned
      FROM sd WHERE sim >= {SEMDEDUP_TAU} GROUP BY cluster
    ),
    mem AS (SELECT cluster, COUNT(*) AS n_members FROM af GROUP BY cluster)
    SELECT mem.cluster, mem.n_members,
           COALESCE(pr.n_pruned, 0) AS n_pruned,
           mem.n_members - COALESCE(pr.n_pruned, 0) AS n_survivors
    FROM mem LEFT JOIN pr ON pr.cluster = mem.cluster
    """,
)
def j43_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering
    embeddings (k-means, shared with j21 — same seeded Lloyd plan)
    then pruning, WITHIN each cluster only, every vector that has a
    lower-id neighbor at cosine ≥ τ. The cluster step is what makes
    embedding dedup scale: candidate pairs are O(Σ cell²) instead of
    O(n²), and cells shrink as k grows. This registered variant PINS
    k=10 for bit-exact parity with the unrolled DuckDB oracle; the
    deployable API is ``semdedup_plan`` below, whose default k is the
    volume-adaptive dial (operators/scaling.auto_kmeans_k: k ∝ n, so
    the pair budget stays linear — tripwired in
    tests/test_scale_tripwire.py). Hash-checked end-to-end:
    assignments reuse j21's bit-exact iteration, cosine is the same
    sequential fold both engines run, so the pruned sets match
    exactly."""
    return semdedup_plan(spark, sf_dir, iters=3, k=10)


def semdedup_plan(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 3,
    k: int | None = None,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """SemDeDup with the cell-capacity dial as a real parameter:
    ``k=None`` counts the corpus (a parquet-footer read at scale, not
    a scan) and chooses k = ⌈n / TARGET_CELL⌉ via auto_kmeans_k, so
    the within-cell pair budget Σ C(cell,2) ≈ n·TARGET_CELL/2 grows
    LINEARLY with the corpus instead of the ×16-per-×4 envelope a
    fixed k has. Returns per-cluster (n_members, n_pruned,
    n_survivors) at cosine threshold ``tau``."""
    from json2hbase_spark.operators.scaling import auto_kmeans_k

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if k is None:
        k = auto_kmeans_k(emb.count())
    asg = materialize(
        kmeans_assign(spark, sf_dir, iters=iters, k=k).select("vec_id", "cluster")
    )
    # hoist the norm to once-per-vector (5k folds) instead of twice-
    # per-pair (2.5M folds): identical arithmetic — sqrt of the same
    # sequential fold — so the similarity values (and the hash) are
    # unchanged, but the pair stage runs ONE fold per pair. 12.6 s →
    # ~5 s at sf0.1.
    side = materialize(
        asg.join(emb, "vec_id").select(
            "cluster",
            "vec_id",
            F.col("embedding").alias("va"),
            F.sqrt(vdot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        )
    )
    a = side.select(
        "cluster", F.col("vec_id").alias("vec_a"), "va", F.col("nrm").alias("na")
    )
    b = side.select(
        F.col("cluster").alias("cl_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("va").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, (a.cluster == b.cl_b) & (a.vec_a < b.vec_b)).withColumn(
        "sim", vdot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    )
    pruned = (
        pairs.filter(F.col("sim") >= tau)
        .groupBy("cluster")
        .agg(F.countDistinct("vec_b").alias("n_pruned"))
    )
    mem = asg.groupBy("cluster").agg(F.count("*").alias("n_members"))
    return (
        mem.join(pruned, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce(F.col("n_pruned"), F.lit(0)).alias("n_pruned"),
            (F.col("n_members") - F.coalesce(F.col("n_pruned"), F.lit(0))).alias(
                "n_survivors"
            ),
        )
    )


# ---------------------------------------------------------------- j45

@query(
    "j45_dataset_card",
    oracle="""
    SELECT COALESCE(lang, 'ALL') AS lang,
           COALESCE(source, 'ALL') AS source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM (
      SELECT lang, source, n_chars,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_toks
      FROM documents
    )
    GROUP BY GROUPING SETS ((lang, source), (lang), ())
    """,
)
def j45_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset report card: the corpus-composition rollup every
    training-data release ships (docs / tokens / size by language ×
    source, with language and grand totals) in one GROUPING SETS pass
    — one shuffle produces all three aggregation levels instead of
    three scans. COALESCE('ALL') labels the rollup rows (fixtures
    have no NULL lang/source, so the sentinel is unambiguous).
    avg_chars is exact-sum ÷ count — one IEEE division, bit-identical
    cross-engine. At 100 TB this is a metadata-only pass: n_chars and
    token counts come from doc-level stats columns, no text scan."""
    import uuid

    docs = load(spark, sf_dir, "documents")
    view = f"j45_docs_{uuid.uuid4().hex}"  # unique per call (k7 convention)
    docs.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT COALESCE(lang, 'ALL') AS lang,
                   COALESCE(source, 'ALL') AS source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
                   CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
            FROM (
              SELECT lang, source, n_chars,
                     size(filter(split(text, ' '), x -> x != '')) AS n_toks
              FROM {view}
            )
            GROUP BY GROUPING SETS ((lang, source), (lang), ())
            """
        )
    finally:
        # the returned DataFrame's plan is already analyzed; dropping
        # the view keeps the catalog clean across invocations
        spark.catalog.dropTempView(view)


# ---------------------------------------------------------------- i22

@query(
    "i22_hypertable_rollup",
    oracle="""
    WITH fine AS (
      SELECT event_type,
             date_trunc('minute', ts::TIMESTAMP) AS m,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(12,2))) AS sv
      FROM events
      GROUP BY 1, 2
    )
    SELECT event_type,
           epoch_us(date_trunc('hour', m)) AS hour_us,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sv) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_minutes
    FROM fine
    GROUP BY 1, 2
    """,
)
def i22_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup cascade (TimescaleDB continuous-aggregate
    style): raw events roll to per-minute partials, and the hourly
    level aggregates THE MINUTE PARTIALS — counts sum, decimal sums
    re-sum exactly — never rescanning raw rows. That associativity is
    the 100 TB story: each resolution is ~60× smaller than the one
    below, so maintaining a day of hourly aggregates costs a scan of
    1440 minute rows per key, not 100 TB of raw events, and the same
    cascade extends to day/month levels. Sums stay DECIMAL through
    both levels (order-free, partition-count-free) with one final
    DOUBLE cast; the hour bucket surfaces as unix micros per the
    engine's timestamp convention."""
    ev = load(spark, sf_dir, "events")
    return hypertable_rollup(ev)


def hypertable_rollup(ev: DataFrame) -> DataFrame:
    """Minute→hour rollup cascade over (event_type, ts, value) rows:
    see i22's docstring."""
    fine = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
    )
    return (
        fine.groupBy("event_type", F.date_trunc("hour", F.col("m")).alias("h"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.count("*").alias("n_minutes"),
        )
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            "n_events",
            "sum_value",
            "n_minutes",
        )
    )


# ---------------------------------------------------------------- j46

BPE_TOP_K = 20


@query(
    "j46_bpe_merges",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      FROM documents
    ),
    wf AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
    ch AS (
      SELECT cnt,
             list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)) AS c
      FROM wf WHERE len(word) >= 2
    ),
    pairs AS (SELECT unnest({_duck_ngrams("c", 2)}) AS pair, cnt FROM ch)
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOP_K}
    """,
)
def j46_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate mining — the counting step of byte-pair-
    encoding tokenizer training: adjacent character-pair frequencies
    over the corpus, weighted by word frequency, top-K as the first
    merge table (ties broken by pair string, so the cut is exact).
    The crucial scale move is aggregating to the DISTINCT-WORD table
    first: pair counting then runs over the vocabulary (≈100k rows
    regardless of corpus size) × word length, not over 100 TB of
    running text — the same trick real BPE trainers use. Iterating
    merges re-runs this plan on the re-segmented vocab table."""
    docs = load(spark, sf_dir, "documents")
    words = widen(docs).select(
        F.explode(whitespace_tokens(F.col("text"))).alias("word")
    )
    wf = words.groupBy("word").agg(F.count("*").alias("cnt"))
    ch = wf.filter(F.length("word") >= 2).select(
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("c"),
    )
    pairs = ch.select(F.explode(word_ngrams(F.col("c"), 2)).alias("pair"), "cnt")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


# ---------------------------------------------------------------- j142

APPLY_MERGES = 8  # merges applied from j46's ranked table. Each merge
# adds 4 vocabulary-sized HOF stages to the plan; at 100 TB the vocab
# table is Heaps-bounded (≈100k-1M rows), so the per-merge cost is
# constant in corpus size — raise toward BPE_TOP_K freely.


def _duck_bpe_apply_oracle() -> str:
    """Unrolled BPE application (j47's unroll pattern): per merge k,
    one CTE chain computes candidate flags, the greedy left-to-right
    selection (within a run of consecutive candidates — only possible
    for (a,a) rules — parity from the last non-candidate position
    picks every other), and the rebuilt symbol list."""
    parts = [
        f"""
    WITH toks AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x != ''))
        AS word
      FROM documents
    ),
    gwf AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
    gch AS (
      SELECT cnt,
             list_transform(range(1, len(word) + 1), i -> substr(word, i, 1))
               AS c
      FROM gwf WHERE len(word) >= 2
    ),
    gpr AS (SELECT unnest({_duck_ngrams("c", 2)}) AS pair, cnt FROM gch),
    mr AS (
      SELECT pair, row_number() OVER (ORDER BY n DESC, pair) AS rnk
      FROM (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM gpr GROUP BY pair)
    ),
    v0 AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt,
             list_transform(range(1, len(word) + 1), i -> substr(word, i, 1))
               AS syms
      FROM toks GROUP BY lang, word
    )"""
    ]
    for k in range(1, APPLY_MERGES + 1):
        parts.append(
            f""",
    m{k} AS (
      SELECT max(string_split(pair, ' ')[1]) AS a,
             max(string_split(pair, ' ')[2]) AS b,
             max(replace(pair, ' ', '')) AS ab
      FROM mr WHERE rnk = {k}
    ),
    s{k} AS (
      SELECT lang, word, cnt, syms,
             list_transform(range(1, len(syms)), i ->
               CASE WHEN syms[i] = m.a AND syms[i + 1] = m.b THEN 1
                    ELSE 0 END) AS c
      FROM v{k - 1}, m{k} m
    ),
    z{k} AS (
      SELECT lang, word, cnt, syms, c,
             list_filter(range(1, len(c) + 1), j -> c[j] = 0) AS z
      FROM s{k}
    ),
    t{k} AS (
      SELECT lang, word, cnt, syms,
             list_transform(range(1, len(syms) + 1), i ->
               CASE WHEN i > len(c) THEN 0
                    WHEN c[i] = 0 THEN 0
                    WHEN (i - coalesce(list_max(list_filter(z, j -> j < i)),
                                       0)) % 2 = 1 THEN 1
                    ELSE 0 END) AS sel
      FROM z{k}
    ),
    v{k} AS (
      SELECT lang, word, cnt,
             list_filter(
               list_transform(range(1, len(syms) + 1), i ->
                 CASE WHEN sel[i] = 1 THEN m.ab
                      WHEN i = 1 THEN syms[i]
                      WHEN sel[i - 1] = 1 THEN NULL
                      ELSE syms[i] END),
               x -> x IS NOT NULL) AS syms
      FROM t{k}, m{k} m
    )"""
        )
    parts.append(
        f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(cnt) AS BIGINT) AS ws_tokens,
           CAST(SUM(cnt * len(word)) AS BIGINT) AS chars,
           CAST(SUM(cnt * len(syms)) AS BIGINT) AS bpe_tokens,
           CAST(SUM(cnt * len(list_filter(syms, s -> len(s) > 1))) AS BIGINT)
             AS merged_tokens,
           round(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
             AS fertility,
           round(CAST(SUM(cnt * len(word)) AS DOUBLE) / SUM(cnt * len(syms)),
                 6) AS compression,
           round(CAST(SUM(cnt * len(list_filter(syms, s -> len(s) > 1)))
                      AS DOUBLE) / SUM(cnt * len(syms)), 6) AS merged_frac
    FROM v{APPLY_MERGES} GROUP BY lang"""
    )
    return "".join(parts)


@query("j142_bpe_apply", oracle=_duck_bpe_apply_oracle())
def j142_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION — the re-tokenization step j46 trains
    for (VERDICT r10 #3): the top-{APPLY_MERGES} merges from j46's
    ranked table are applied in rank order to the per-language
    distinct-word vocabulary (greedy left-to-right within each word,
    the standard BPE apply semantics), and the corpus is re-measured
    under the learned vocab: per language, whitespace tokens, raw
    chars, BPE symbol count (= what the tokenizer would emit),
    merged-symbol occurrences, fertility (BPE symbols per whitespace
    token — j86's metric under the LEARNED vocab instead of the regex
    stand-in), compression (chars per BPE symbol) and the fraction of
    emitted symbols that are learned merges.

    Application semantics: one pass per merge in training-rank order;
    within a pass, occurrences merge greedily left-to-right and the
    merged symbol does not re-combine in the same pass (runs of
    consecutive candidates — only possible for (a,a) rules — resolve
    by parity from the last non-candidate position; both engines
    compute the identical closed form). All j46 merge pairs segment
    the initial character alphabet, so later merges see earlier
    output symbols only as non-matching whole symbols.

    Exactness: every report column is an exact integer sum except the
    three final single-rounded divisions (denominators ≥ 1 by
    construction — every word emits ≥ 1 symbol). Plan: the merge
    table rides j46's vocabulary-sized plan, ranks via a ≤K²-row
    broadcast theta self-join (no single-partition window), and
    pivots to ONE broadcast row; application is {APPLY_MERGES}×4
    chained HOF projections over the (lang, word)-grain vocab table —
    vocabulary-sized (Heaps-bounded ≈100k-1M rows at 100 TB), never
    corpus-sized; the only corpus-scale work is the token explode +
    (lang, word) hash agg every vocab induction already pays."""
    # round 13: ONE corpus tokenize pass instead of two — calling
    # j46_bpe_merges() re-ran the corpus explode + word agg that this
    # op's own (lang, word) vocab table pays again. The vocab
    # materializes once; j46's global word-frequency table is exactly
    # its lang-marginal (Σ over langs of BIGINT counts — identical
    # integers), so the merge table mined from it is bit-identical to
    # j46's. merges also materializes (≤ BPE_TOP_K rows): the rank
    # theta self-join below consumes it twice, and unmaterialized
    # each side re-ran the vocab→pair agg.
    docs = load(spark, sf_dir, "documents")
    vocab = materialize(
        widen(docs)
        .select("lang", F.explode(whitespace_tokens(F.col("text"))).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wf = vocab.groupBy("word").agg(F.sum("cnt").alias("cnt"))
    ch = wf.filter(F.length("word") >= 2).select(
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("c"),
    )
    mpairs = ch.select(F.explode(word_ngrams(F.col("c"), 2)).alias("pair"), "cnt")
    merges = materialize(
        mpairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )  # (pair, n) — ≤ BPE_TOP_K rows, bit-identical to j46's table
    a, b = merges.alias("_ma"), merges.alias("_mb")
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("_mb.n") > F.col("_ma.n"))
            | ((F.col("_mb.n") == F.col("_ma.n")) & (F.col("_mb.pair") < F.col("_ma.pair"))),
            "left",
        )
        .groupBy(F.col("_ma.pair").alias("pair"))
        .agg((F.count(F.col("_mb.pair")) + 1).alias("rnk"))
        .filter(F.col("rnk") <= APPLY_MERGES)
    )
    mrow = ranked.groupBy().agg(
        *[
            agg
            for k in range(1, APPLY_MERGES + 1)
            for agg in (
                F.max(F.when(F.col("rnk") == k, F.split("pair", " ")[0])).alias(f"_a{k}"),
                F.max(F.when(F.col("rnk") == k, F.split("pair", " ")[1])).alias(f"_b{k}"),
                F.max(F.when(F.col("rnk") == k, F.translate("pair", " ", ""))).alias(f"_ab{k}"),
            )
        ]
    )
    v = vocab.crossJoin(F.broadcast(mrow)).withColumn(
        "syms",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ),
    )
    for k in range(1, APPLY_MERGES + 1):
        v = (
            v.withColumn(
                "_c",
                F.expr(
                    f"""CASE WHEN size(syms) < 2 THEN CAST(array() AS ARRAY<INT>)
                    ELSE transform(sequence(1, size(syms) - 1), i ->
                      CASE WHEN element_at(syms, i) = _a{k}
                            AND element_at(syms, i + 1) = _b{k} THEN 1
                           ELSE 0 END) END"""
                ),
            )
            .withColumn(
                "_z",
                F.expr(
                    """CASE WHEN size(_c) = 0 THEN CAST(array() AS ARRAY<INT>)
                    ELSE filter(sequence(1, size(_c)), j -> element_at(_c, j) = 0)
                    END"""
                ),
            )
            .withColumn(
                "_sel",
                F.expr(
                    """transform(sequence(1, size(syms)), i ->
                      CASE WHEN i > size(_c) THEN 0
                           WHEN element_at(_c, i) = 0 THEN 0
                           WHEN (i - coalesce(array_max(filter(_z, j -> j < i)),
                                              0)) % 2 = 1 THEN 1
                           ELSE 0 END)"""
                ),
            )
            .withColumn(
                "syms",
                F.expr(
                    f"""filter(
                      transform(sequence(1, size(syms)), i ->
                        CASE WHEN element_at(_sel, i) = 1 THEN _ab{k}
                             WHEN i = 1 THEN element_at(syms, i)
                             WHEN element_at(_sel, i - 1) = 1
                               THEN CAST(NULL AS STRING)
                             ELSE element_at(syms, i) END),
                      x -> x IS NOT NULL)"""
                ),
            )
        )
    merged_len = F.size(F.filter(F.col("syms"), lambda s: F.length(s) > 1))
    per = v.select(
        "lang",
        "word",
        "cnt",
        F.length("word").cast("bigint").alias("_wl"),
        F.size("syms").cast("bigint").alias("_sl"),
        merged_len.cast("bigint").alias("_ml"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("cnt").cast("bigint").alias("ws_tokens"),
        F.sum(F.col("cnt") * F.col("_wl")).cast("bigint").alias("chars"),
        F.sum(F.col("cnt") * F.col("_sl")).cast("bigint").alias("bpe_tokens"),
        F.sum(F.col("cnt") * F.col("_ml")).cast("bigint").alias("merged_tokens"),
        F.round(
            F.sum(F.col("cnt") * F.col("_sl")).cast("double") / F.sum("cnt"), 6
        ).alias("fertility"),
        F.round(
            F.sum(F.col("cnt") * F.col("_wl")).cast("double")
            / F.sum(F.col("cnt") * F.col("_sl")),
            6,
        ).alias("compression"),
        F.round(
            F.sum(F.col("cnt") * F.col("_ml")).cast("double")
            / F.sum(F.col("cnt") * F.col("_sl")),
            6,
        ).alias("merged_frac"),
    )


# ---------------------------------------------------------------- j47

PR_QUANT = 1000000000000  # 1e-12 contribution quantum
PR_ITERS = 3


def _duck_pagerank(iters: int = PR_ITERS) -> str:
    """Unrolled PageRank iterations over the deterministic dup-edge
    graph: contributions quantized to 1e-12 BIGINTs so the per-node
    sum is order-free and bit-identical to Spark's shuffle-order sum."""
    parts = [
        DUCK_DUP_EDGES.rstrip(),
        """, bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM bi GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    p0 AS (SELECT src AS node, deg, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM deg, nn)""",
    ]
    prev = "p0"
    for it in range(1, iters + 1):
        parts.append(
            f""",
    p{it} AS (
      SELECT d.src AS node, d.deg,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * (CAST(SUM(c.q) AS DOUBLE) / {PR_QUANT}) AS pr
      FROM (
        SELECT bi.dst, CAST(floor(p.pr / p.deg * {PR_QUANT} + 0.5) AS BIGINT) AS q
        FROM bi JOIN {prev} p ON p.node = bi.src
      ) c
      JOIN deg d ON d.src = c.dst, nn
      GROUP BY d.src, d.deg, nn.n
    )"""
        )
        prev = f"p{it}"
    parts.append(f"\n    SELECT node, pr FROM {prev}")
    return "".join(parts)


@query("j47_pagerank", oracle=_duck_pagerank(PR_ITERS))
def j47_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the near-dup graph —
    the centrality signal that ranks canonical documents inside big
    duplicate clusters (complement of j26's argmax-quality pick). The
    numeric trick that makes an ITERATIVE float algorithm hash-exact:
    per-edge contributions quantize to 1e-12 BIGINT before the per-node
    sum, so accumulation order (Spark shuffle vs DuckDB group) cannot
    change the result, while the damping arithmetic stays plain IEEE.
    Each iteration is one join + one hash agg with the per-iteration
    rank table materialized (flat lineage, same posture as j21); the
    edge set materializes once, both directions from one explode —
    exactly the 100 TB checkpointing shape. ``bi`` is symmetric, so a
    node's in-degree is its out-degree: each iteration's aggregate
    counts the next rank table's ``deg`` alongside the sum, and ``bi``
    is shuffled for degrees only once.

    The rank table joins ``bi`` as a broadcast while the exact node
    count ``n`` is at most ``BROADCAST_EDGE_LIMIT``; above it the join
    stays sort-merge (the 100 TB path). AQE cannot decide this itself:
    a localCheckpoint-backed table keeps the size estimate of the plan
    it was checkpointed from, inflated far past its rows (424 MB for
    the 74-row ``bi`` on the perfbench fixtures, over 10^17 bytes for a
    54-row rank table after one iteration), so it plans a sort-merge
    join with shuffles on both sides. ``n`` is read once; ``1.0 / n``
    and ``0.15 / n`` divide by it as a double, as the oracle does.
    Quantization bias is 1e-12 per edge — epsilon against PR values
    ≥ 0.15/N."""
    bi = materialize(
        _dup_edges(spark, sf_dir)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    deg = materialize(
        bi.groupBy("src").agg(F.count("*").alias("deg")).select(F.col("src").alias("node"), "deg")
    )
    n = deg.count()
    pr = deg.withColumn("pr", F.lit(1.0) / F.lit(n))
    for _ in range(PR_ITERS):
        p = F.broadcast(pr) if n <= BROADCAST_EDGE_LIMIT else pr
        pr = materialize(
            bi.join(p, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(
                F.count("*").alias("deg"),
                F.sum(F.floor(F.col("pr") / F.col("deg") * PR_QUANT + 0.5).cast("long")).alias("sq"),
            )
            .select(
                F.col("dst").alias("node"),
                "deg",
                (
                    F.lit(0.15) / F.lit(n)
                    + F.lit(0.85) * (F.col("sq").cast("double") / F.lit(PR_QUANT))
                ).alias("pr"),
            )
        )
    return pr.select("node", "pr")


# ---------------------------------------------------------------- j48

MD5MH_K = 16       # hash functions in the md5 MinHash family
MD5MH_BANDS = 4    # 4 bands x 4 rows
# Carter-Wegman 2-universal family over a 48-bit prime: hash k is
# (h1 + k*h2) mod P with h1/h2 two md5-derived 48-bit base hashes.
# Two md5 evaluations per shingle occurrence instead of MD5MH_K=16
# (8x less hashing — md5 dominated j48's runtime); max h1 + 15*h2
# < 2^52, so the arithmetic is exact BIGINT in both engines.
MD5MH_P = 281474976710597  # largest prime < 2^48


def _md5_base_col(s, tag: str):
    """48-bit base hash: first 12 hex chars of md5(tag || shingle)
    parsed as BIGINT — identical arithmetic in Spark (conv base 16)
    and DuckDB ('0x' cast)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), s)), 1, 12), 16, 10
    ).cast("long")


def _duck_md5_base(s: str, tag: str) -> str:
    return f"('0x' || substr(md5('{tag}' || {s}), 1, 12))::BIGINT"


def _duck_md5_minhash_oracle() -> str:
    h1 = _duck_md5_base("s", "a:")
    h2 = _duck_md5_base("s", "b:")
    mins = ",\n             ".join(
        f"MIN(({h1} + {k} * {h2}) % {MD5MH_P}) AS m{k}" for k in range(MD5MH_K)
    )
    rows = MD5MH_K // MD5MH_BANDS
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(','"
        + "".join(f", m{b * rows + r}" for r in range(rows))
        + ") AS bv FROM mins"
        for b in range(MD5MH_BANDS)
    )
    jacc = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    return f"""
    WITH normed AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(norm) - 7, 0) + 1),
                                          i -> substr(norm, i, 8))) AS shingles
      FROM normed WHERE len(norm) >= 8
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    mins AS (
      SELECT doc_id,
             {mins}
      FROM ex GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, {jacc} AS jacc
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {jacc} >= 0.5
    """


@query("j48_dedup_near_md5", oracle=_duck_md5_minhash_oracle())
def j48_dedup_near_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup dedup with a FULLY HASH-CHECKED oracle:
    the hash family is md5-derived (Carter-Wegman (h1 + k*h2) mod P
    over two 48-bit md5 base hashes, P prime < 2^48) — an expression
    both engines evaluate bit-identically with exact BIGINT
    arithmetic — so the signature mins, the 4×4 band
    blocking, the candidate set, and the verified Jaccard pairs all
    hash-match DuckDB end-to-end. This closes the j2/j9 oracle gap:
    those remain the FAST path (codegen xxhash64 families, rows-only
    by design since DuckDB lacks xxhash64); j48 is the slower md5
    twin proving the banding pipeline itself is engine-exact. Same
    scale shape as j2: one explode + wide min-agg (map-side combine),
    O(n·bands) band shuffle, verification only on candidates."""
    sh, cand = _md5_minhash_parts(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jacc = inter.cast("double") / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jacc", jacc)
        .filter(F.col("jacc") >= 0.5)
        .select("doc_a", "doc_b", "jacc")
    )


def _md5_minhash_parts(spark: SparkSession, sf_dir: str):
    """Shared md5-MinHash pipeline: returns (sh, cand) — the
    materialized (doc_id, shingles) table and the banded candidate
    pair set. Used by j48 (verify stage) and j49 (recall eval)."""
    from json2hbase_spark.operators.dedup import char_shingles, normalize_text

    docs = load(spark, sf_dir, "documents")
    normed = (
        widen(docs)
        .select("doc_id", normalize_text(F.col("text")).alias("norm"))
        .filter(F.length("norm") >= 8)
    )
    sh = materialize(
        normed.select("doc_id", char_shingles(F.col("norm"), 8).alias("shingles"))
    )
    ex = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id",
        _md5_base_col(F.col("s"), "a:").alias("h1"),
        _md5_base_col(F.col("s"), "b:").alias("h2"),
    )
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + F.lit(k) * F.col("h2")) % F.lit(MD5MH_P)).alias(f"m{k}")
            for k in range(MD5MH_K)
        ]
    )
    rows = MD5MH_K // MD5MH_BANDS
    banded = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                        ).alias("bv"),
                    )
                    for b in range(MD5MH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bv")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return sh, cand


# ---------------------------------------------------------------- j49

_DUCK_TRUTH_JACC = (
    "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
    " / (len(a.shingles) + len(b.shingles)"
    " - len(list_intersect(a.shingles, b.shingles)))"
)


def _duck_dedup_recall_oracle() -> str:
    # reuse j48's CTE chain up to cand, then score against the
    # prefix-blocked exact reference set
    base = _duck_md5_minhash_oracle()
    head = base[: base.index("SELECT c.doc_a")]
    return (
        head
        + f""",
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {_DUCK_TRUTH_JACC} AS j
      FROM (SELECT sh.*, substr(n.norm, 1, 40) AS block
            FROM sh JOIN normed n ON n.doc_id = sh.doc_id) a
      JOIN (SELECT sh.*, substr(n.norm, 1, 40) AS block
            FROM sh JOIN normed n ON n.doc_id = sh.doc_id) b
        ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE {_DUCK_TRUTH_JACC} >= 0.5
    )
    SELECT CAST(floor(t.j * 10) AS BIGINT) AS j_bucket,
           COUNT(*) AS n_truth,
           CAST(COUNT(c.doc_a) AS BIGINT) AS n_found,
           CAST(COUNT(c.doc_a) AS DOUBLE) / COUNT(*) AS recall
    FROM truth t
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY 1
    """
    )


@query("j49_dedup_recall", oracle=_duck_dedup_recall_oracle())
def j49_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall eval for banded MinHash dedup (completes the eval-pair
    story j33/j38 built for ANN): the deterministic prefix-blocked
    exact-Jaccard pairs (j2v semantics, J ≥ 0.5) are ground truth;
    the md5-family banding candidates (j48's pipeline, shared plan)
    are the detector; output is per-Jaccard-decile recall. This is
    the dial an operator tunes bands×rows against — measured
    ON-ENGINE, hash-matched in both engines because every stage of
    both the truth and the detector is engine-exact expression math.
    At 100 TB the truth set comes from a sampled block audit, same
    plan shape."""
    from json2hbase_spark.operators.dedup import normalize_text

    sh, cand = _md5_minhash_parts(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    # reuse the MATERIALIZED shingle arrays from the detector pipeline
    # (the shingle HOF projection is its most expensive stage); only
    # the cheap 40-char block key is recomputed from the raw text
    blocks = docs.select(
        "doc_id", F.substring(normalize_text(F.col("text")), 1, 40).alias("block")
    )
    blocked = sh.join(blocks, "doc_id")
    a = blocked.select(
        "block", F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = blocked.select(
        F.col("block").alias("block_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jacc = inter.cast("double") / union
    truth = (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("doc_a") < F.col("doc_b")))
        .withColumn("j", jacc)
        .filter(F.col("j") >= 0.5)
        .select("doc_a", "doc_b", "j")
    )
    found = cand.withColumn("hit", F.lit(1))
    return (
        truth.join(found, ["doc_a", "doc_b"], "left")
        .groupBy(F.floor(F.col("j") * 10).cast("bigint").alias("j_bucket"))
        .agg(
            F.count("*").alias("n_truth"),
            F.count("hit").alias("n_found"),
            (F.count("hit").cast("double") / F.count("*")).alias("recall"),
        )
    )


# ---------------------------------------------------------------- j50

_KS_A = ("src0", "src1", "src2", "src3", "src4")


@query(
    "j50_drift_ks",
    oracle=f"""
    WITH tagged AS (
      SELECT n_chars,
             CASE WHEN source IN {_KS_A} THEN 1 ELSE 0 END AS in_a
      FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(in_a) AS BIGINT) AS na, CAST(SUM(1 - in_a) AS BIGINT) AS nb FROM tagged
    ),
    hist AS (
      SELECT n_chars,
             SUM(in_a) AS ca, SUM(1 - in_a) AS cb
      FROM tagged GROUP BY n_chars
    ),
    cdf AS (
      SELECT n_chars,
             CAST(SUM(ca) OVER (ORDER BY n_chars
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / tot.na
               AS fa,
             CAST(SUM(cb) OVER (ORDER BY n_chars
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / tot.nb
               AS fb
      FROM hist, tot
    )
    SELECT tot.na AS n_a, tot.nb AS n_b,
           ks.ks_stat, ks.ks_at
    FROM tot, (
      SELECT abs(fa - fb) AS ks_stat, n_chars AS ks_at
      FROM cdf ORDER BY abs(fa - fb) DESC, n_chars LIMIT 1
    ) ks
    """,
)
def j50_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detector: the two-sample Kolmogorov–Smirnov
    statistic between the doc-length distributions of two source
    cohorts (src0–4 vs the rest) — the monitoring check a training-
    data pipeline runs when a new crawl lands, before quality scores
    shift silently. Everything is exact: per-value conditional counts,
    windowed cumulative sums, one IEEE division per CDF point, exact
    subtraction — so the KS statistic and its argmax location (ties →
    smallest value) hash-match. The global window runs over the
    DISTINCT-VALUE domain (hundreds of rows at any corpus size), not
    the corpus — the same domain-sized trick as j46's vocabulary."""
    docs = load(spark, sf_dir, "documents")
    tagged = docs.select(
        "n_chars",
        F.when(F.col("source").isin(*_KS_A), 1).otherwise(0).alias("in_a"),
    )
    tot = tagged.agg(
        F.sum("in_a").alias("na"), F.sum(1 - F.col("in_a")).alias("nb")
    )
    hist = tagged.groupBy("n_chars").agg(
        F.sum("in_a").alias("ca"), F.sum(1 - F.col("in_a")).alias("cb")
    )
    w = (
        Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("fa", F.sum("ca").over(w).cast("double") / F.col("na"))
        .withColumn("fb", F.sum("cb").over(w).cast("double") / F.col("nb"))
        .withColumn("d", F.abs(F.col("fa") - F.col("fb")))
    )
    ks = (
        cdf.orderBy(F.desc("d"), F.asc("n_chars"))
        .limit(1)
        .select(F.col("d").alias("ks_stat"), F.col("n_chars").alias("ks_at"))
    )
    return tot.crossJoin(ks).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "ks_stat", "ks_at"
    )


# ---------------------------------------------------------------- j51

@query(
    "j51_dataset_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 != 0
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [edited]' ELSE text END) AS h
      FROM documents WHERE doc_id % 5 != 0
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h IS DISTINCT FROM b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT status, COUNT(*) AS n_docs,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM j GROUP BY status
    """,
)
def j51_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the data-versioning pass run before a
    training-set release: two snapshots compared by (doc_id, content
    hash) via one full-outer join → added / removed / changed /
    unchanged counts with id ranges. Snapshots here derive
    deterministically from the fixture (v1 drops every 7th doc, v2
    drops every 5th and edits every 11th) so the oracle reproduces
    them; in production v1/v2 are two partition snapshots and the
    diff is the audit record. Content addressing by md5 keeps the
    join payload at 16 bytes/doc regardless of document size — at
    100 TB the hashes come precomputed from the ingest manifest, no
    text scan."""
    docs = load(spark, sf_dir, "documents")
    # presence markers, NOT hash nullness, decide added/removed: with
    # a NULL text md5() is NULL on both sides and hash-null keying
    # would misreport an in-both doc as added (and diverge from the
    # oracle's doc_id-presence logic)
    v1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h1"), F.lit(1).alias("in1")
    )
    v2 = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            ).otherwise(F.col("text"))
        ).alias("h2"),
        F.lit(1).alias("in2"),
    )
    joined = v1.join(v2, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("in1").isNull(), "added")
        .when(F.col("in2").isNull(), "removed")
        .when(~F.col("h1").eqNullSafe(F.col("h2")), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return joined.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------- j52

@query(
    "j52_sequence_mining",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS e3
      FROM events
    ),
    tri AS (
      SELECT user_id, concat_ws('>', event_type, e2, e3) AS pattern
      FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    )
    SELECT pattern,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_occurrences
    FROM tri GROUP BY pattern
    HAVING COUNT(DISTINCT user_id) >= 40
    """,
)
def j52_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-sequence mining (PrefixSpan-lite): every length-3
    event-type sequence each user emits, kept when ≥40 distinct users
    share it — DISCOVERS the behavioral patterns i15's funnel then
    measures for a FIXED pattern. The windowed lead() runs inside each
    user's partition (no global window), the support count is one hash
    agg with map-side combine, and the support floor is the classic
    anti-explosion lever: at 100 TB candidate patterns are bounded by
    |event_type|³, not by user count. Deterministic tie-handling via
    the (ts, event_id) sort key."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    tri = seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull()).select(
        "user_id", F.concat_ws(">", "event_type", "e2", "e3").alias("pattern")
    )
    return (
        tri.groupBy("pattern")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_users") >= 40)
    )


# ---------------------------------------------------------------- j53

SPAN_W = 6  # tokens per span window


@query(
    "j53_span_dedup",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    spans AS (
      SELECT doc_id, unnest({_duck_ngrams("w", SPAN_W)}) AS g
      FROM toks WHERE len(w) >= {SPAN_W}
    ),
    docfreq AS (
      SELECT g, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY g
    )
    SELECT s.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS dup_ratio
    FROM spans s JOIN docfreq d USING (g)
    GROUP BY s.doc_id
    """,
)
def j53_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-SPAN detection (the scalable stand-in for the
    suffix-array substring dedup of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every sliding
    6-token window is a span; a span occurrence is a duplicate when
    the same span text also appears in ANOTHER document. Output is the
    per-document duplicated-span ratio — the signal used to drop or
    trim boilerplate-heavy documents, finer-grained than whole-doc
    near-dup (j2) because it catches shared paragraphs inside
    otherwise-unique documents. Plan (single pass, no checkpoint, no
    join): explode → project the span down to its xxhash64 key while
    still map-side (the string never reaches a shuffle — ~6x payload
    cut; collisions at 64 bits are ~0 at any corpus size) →
    per-(span,doc) pre-agg with map-side combine → doc-frequency as a
    count-over-window on the span key (rows are already distinct
    (span,doc) pairs, so plain count IS countDistinct) → per-doc agg.
    Everything downstream of the explode carries 8-byte keys and the
    explode is computed exactly once, so no materialize() barrier is
    needed — it scales exactly like a token count."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
    return span_dup_stats(toks)


def span_dup_stats(toks: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Per-doc duplicated-span stats over (doc_id, w token-array) rows
    — see j53's docstring. A span occurrence counts as duplicated when
    its text occurs in ≥2 distinct documents."""
    spans = (
        toks.filter(F.size("w") >= w)
        .select("doc_id", F.explode(word_ngrams(F.col("w"), w)).alias("g"))
        .select("doc_id", F.xxhash64("g").alias("gk"))
    )
    per_doc = spans.groupBy("gk", "doc_id").agg(F.count("*").alias("n_occ"))
    with_df = per_doc.withColumn("df", F.count("*").over(Window.partitionBy("gk")))
    dup = F.when(F.col("df") >= 2, F.col("n_occ")).otherwise(F.lit(0))
    return with_df.groupBy("doc_id").agg(
        F.sum("n_occ").cast("bigint").alias("n_spans"),
        F.sum(dup).cast("bigint").alias("n_dup_spans"),
        (F.sum(dup).cast("double") / F.sum("n_occ")).alias("dup_ratio"),
    )


# ---------------------------------------------------------------- j54

# shared with j22_pii_scan (llm_queries.py) — same public-pattern set
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PII_URL_RE = "https?://[^ ]+"
PII_NUMRUN_RE = "[0-9][0-9][0-9][0-9][0-9]+"


@query(
    "j54_pii_redact",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.org or https://t.example.org/' || CAST(doc_id AS VARCHAR)
                  || ' ref ' || CAST(doc_id + 1000000 AS VARCHAR) AS text
      FROM documents
    ),
    red AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{PII_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(lower(text), '{PII_URL_RE}')) AS n_urls,
             len(regexp_extract_all(lower(text), '{PII_NUMRUN_RE}')) AS n_numruns,
             regexp_replace(regexp_replace(regexp_replace(lower(text),
               '{PII_EMAIL_RE}', '<email>', 'g'),
               '{PII_URL_RE}', '<url>', 'g'),
               '{PII_NUMRUN_RE}', '<num>', 'g') AS redacted
      FROM pii
    )
    SELECT doc_id,
           CAST(n_emails + n_urls + n_numruns AS BIGINT) AS n_redactions,
           len(redacted) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM red
    WHERE n_emails + n_urls + n_numruns > 0
    """,
)
def j54_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION transform (the fix stage for j22's scan): emails,
    URLs and long digit runs are replaced in-place with typed
    placeholders, applied in a fixed pattern order (email → URL →
    number) so overlapping matches resolve deterministically. The
    result content is verified by md5 — the oracle hash-checks the
    REDACTED TEXT itself cross-engine, not just the counts — while
    keeping the driver payload at 16 bytes/doc regardless of document
    size (same trick as j51's snapshot diff). Pure regexp_replace
    expressions: narrow projection, no UDF, scales as a map-only pass;
    per-pattern counts come from the pre-redaction text so the audit
    row says what was removed. The fixture corpus is letters-only (no
    digits or @ anywhere), so the input plants one email, one URL and
    one digit run per document deterministically (replicated in the
    oracle) — the md5 check then proves the redaction really stripped
    them, not that there was nothing to strip."""
    docs = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or https://t.example.org/"),
        F.col("doc_id").cast("string"),
        F.lit(" ref "),
        (F.col("doc_id") + 1000000).cast("string"),
    )
    docs = docs.select("doc_id", planted.alias("text"))
    red = redact_pii(F.col("text"))
    return (
        docs.select(
            "doc_id",
            pii_match_count(F.col("text")).cast("bigint").alias("n_redactions"),
            F.length(red).alias("redacted_len"),
            F.md5(F.encode(red, "UTF-8")).alias("redacted_md5"),
        )
        .filter(F.col("n_redactions") > 0)
    )


def redact_pii(col) -> "F.Column":
    """Redacted (lowercased) text: email → URL → digit-run, fixed
    order so overlapping matches resolve deterministically. The
    placeholders are lowercase so redaction is a FIXPOINT — a second
    pass (which lowercases again) changes nothing; pinned by a
    hypothesis property test."""
    low = F.lower(col)
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(low, PII_EMAIL_RE, "<email>"),
            PII_URL_RE,
            "<url>",
        ),
        PII_NUMRUN_RE,
        "<num>",
    )


def pii_match_count(col) -> "F.Column":
    """Total PII matches in the PRE-redaction lowercased text."""
    low = F.lower(col)
    return (
        F.size(F.regexp_extract_all(low, F.lit(PII_EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(low, F.lit(PII_URL_RE), 0))
        + F.size(F.regexp_extract_all(low, F.lit(PII_NUMRUN_RE), 0))
    )


# ---------------------------------------------------------------- j55

# fixed model weights (a trained fasttext-style quality classifier's
# linear head, frozen as literals — inference only, like every
# CCNet-style pipeline ships it)
QLR_B = -0.6
QLR_W_LEN = 1.1      # on min(n_tokens,100)/100
QLR_W_STOP = 2.0     # on stopword_ratio
QLR_W_DIGIT = -3.0   # on digit_ratio
QLR_W_AVGLEN = 0.08  # on avg token length


@query(
    "j55_quality_lr",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok,
             CAST(COALESCE(list_aggregate(list_transform(list_filter(string_split(text, ' '),
                    x -> x != ''), t -> len(t)), 'sum'), 0) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS avg_tok_len,
             CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                  t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))
                  AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS stop_ratio,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / greatest(len(text), 1) AS digit_ratio
      FROM documents
    )
    SELECT doc_id,
           {QLR_B} + {QLR_W_LEN} * (CAST(least(n_tok, 100) AS DOUBLE) / 100.0)
                   + {QLR_W_STOP} * stop_ratio
                   + {QLR_W_DIGIT} * digit_ratio
                   + {QLR_W_AVGLEN} * avg_tok_len AS score,
           ({QLR_B} + {QLR_W_LEN} * (CAST(least(n_tok, 100) AS DOUBLE) / 100.0)
                    + {QLR_W_STOP} * stop_ratio
                    + {QLR_W_DIGIT} * digit_ratio
                    + {QLR_W_AVGLEN} * avg_tok_len) >= 0.0 AS keep
    FROM f
    """,
)
def j55_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality FILTERING: inference for a linear
    (logistic-regression-head) quality classifier with frozen weights — the
    shape every CCNet/LLaMA-style pipeline uses to keep or drop
    documents at scale (features in-engine, dot-with-weights, margin
    threshold). The margin (pre-sigmoid score) is the output — the
    sigmoid is monotone, so keep = score ≥ 0 is the exact same
    decision without transcendentals, which keeps the whole operator
    bit-exact cross-engine (no rounding anywhere). Complements j12
    (heuristic score) and j35 (rule gate): this is the TRAINED-model
    slot, weights swap in from any upstream training run. Map-only
    pass, narrow projection, one IEEE op chain in fixed order —
    scales as a scan."""
    docs = load(spark, sf_dir, "documents")
    score = quality_lr_score(F.col("text"))
    return docs.select(
        "doc_id",
        score.alias("score"),
        (score >= 0.0).alias("keep"),
    )


def quality_feature_cols(text) -> dict:
    """The shared quality-feature expressions (ONE Python definition;
    the DuckDB twins live in the j55/j59/i24 oracle strings): token
    count, avg token length, stopword ratio, digit ratio — exactly
    the op order the cross-engine contract pins."""
    toks = whitespace_tokens(text)
    n_tok = F.size(toks)
    n_tok1 = F.greatest(n_tok, F.lit(1))
    avg_tok_len = (
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_tok1
    )
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
            )
        ).cast("double")
        / n_tok1
    )
    ln = F.length(text)
    digit_ratio = (
        (ln - F.length(F.regexp_replace(text, "[0-9]", ""))).cast("double")
        / F.greatest(ln, F.lit(1))
    )
    return {
        "n_tok": n_tok,
        "avg_tok_len": avg_tok_len,
        "stop_ratio": stop_ratio,
        "digit_ratio": digit_ratio,
    }


def quality_lr_score(text) -> "F.Column":
    """The frozen linear model's margin score over in-engine features
    (see j55's docstring for the exact op order — it is part of the
    cross-engine contract)."""
    f = quality_feature_cols(text)
    return (
        F.lit(QLR_B)
        + F.lit(QLR_W_LEN) * (F.least(f["n_tok"], F.lit(100)).cast("double") / F.lit(100.0))
        + F.lit(QLR_W_STOP) * f["stop_ratio"]
        + F.lit(QLR_W_DIGIT) * f["digit_ratio"]
        + F.lit(QLR_W_AVGLEN) * f["avg_tok_len"]
    )


# ---------------------------------------------------------------- j56

def _duck_vec_dot(a: str, b: str) -> str:
    # CAST the left element to DOUBLE so the per-element product and
    # the fold run in float64 — bit-identical to operators.similarity
    # dot's zip_with(x.cast(double) * y) (same convention as
    # llm_queries._duck_dot; FLOAT*FLOAT would fold in float32)
    return (
        f"list_aggregate(list_transform(range(1, 65),"
        f" i -> CAST({a}[i] AS DOUBLE) * {b}[i]), 'sum')"
    )


@query(
    "j56_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe, label AS qlabel
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (SELECT vec_id AS cid, embedding AS ce, label AS clabel FROM embeddings),
    s AS (
      SELECT qid, cid,
             {_duck_vec_dot("qe", "ce")}
               / (sqrt({_duck_vec_dot("qe", "qe")}) * sqrt({_duck_vec_dot("ce", "ce")}))
               AS sim
      FROM c, q WHERE clabel != qlabel
    )
    SELECT qid, cid, sim, rank FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def j56_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative MINING for retrieval/embedding training: for each
    query vector, the top-5 most-similar vectors with a DIFFERENT
    label — the highest-loss negatives a contrastive trainer wants in
    the batch (DPR/Contriever recipe). Same broadcast-queries ×
    candidate-scan shape as j3, plus the label anti-filter evaluated
    BEFORE the dot product so excluded candidates cost a comparison,
    not a 64-float fold. Sequential-fold cosine, row_number with (sim
    DESC, cid) tie-break — bit-exact cross-engine. At 100 TB the
    candidate scan routes through j17's IVF cells first (mine within
    the query's top cells only), identical downstream plan."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
    )
    return hard_negatives(q, c, k=5)


# ---------------------------------------------------------------- j57

OOV_VOCAB_K = 20
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@query(
    "j57_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{BPE_RE}')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    vocab AS (
      SELECT token FROM freq ORDER BY n DESC, token LIMIT {OOV_VOCAB_K}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY t.doc_id
    """,
)
def j57_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage eval: per-document out-of-vocabulary rate
    against the corpus' own top-K BPE-ish token vocabulary (K=20 here
    because the synthetic fixture corpus has a ~31-token vocabulary —
    production K is 32k/50k; the plan is K-independent) — the
    check a tokenizer/corpus pairing runs before training (high OOV →
    the tokenizer fragments this slice into bytes, inflating sequence
    length and cost). Deterministic vocab cut: (freq DESC, token) via
    TakeOrdered — vocabulary-sized work, NO global shuffle of running
    text — then a BROADCAST left join tags each token occurrence.
    At 100 TB the vocab is identical (vocab work scales with distinct
    tokens, not corpus size) and the tagging join stays broadcast —
    the corpus-side plan is scan + hash agg, nothing else. Pairs with
    j46 (the merges this vocab came from) and j27 (packing, whose
    budget OOV inflation blows)."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_RE), 0)).alias(
            "token"
        ),
    )
    toks = materialize(toks)
    freq = toks.groupBy("token").agg(F.count("*").alias("n"))
    vocab = freq.orderBy(F.desc("n"), "token").limit(OOV_VOCAB_K).select(
        "token", F.lit(1).alias("in_vocab")
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            (F.sum(oov).cast("double") / F.count("*")).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------- j58

_J58_GRAM = "concat_ws(' ', w[pos], w[pos+1], w[pos+2], w[pos+3], w[pos+4], w[pos+5])"


@query(
    "j58_span_remove",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    spang AS (
      SELECT doc_id, w,
             unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS pos
      FROM toks
    ),
    grams AS (
      SELECT doc_id, pos, {_J58_GRAM} AS g FROM spang
    ),
    shared AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT gr.doc_id, gr.pos + o.off AS idx
      FROM grams gr JOIN shared USING (g),
           (SELECT unnest(range(6)) AS off) o
    ),
    cov AS (SELECT doc_id, list(idx) AS cv FROM covered GROUP BY doc_id),
    clean AS (
      SELECT t.doc_id,
             len(t.w) AS n_tokens,
             list_filter(
               list_transform(range(1, len(t.w) + 1),
                 i -> CASE WHEN cov.cv IS NULL OR NOT list_contains(cov.cv, i)
                           THEN t.w[i] END),
               x -> x IS NOT NULL) AS cw
      FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(cw) AS BIGINT) AS n_removed,
           md5(COALESCE(array_to_string(cw, ' '), '')) AS cleaned_md5
    FROM clean
    """,
)
def j58_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span REMOVAL (the transform j53 only measures — what
    Lee et al. 2022 actually do to the corpus): every token covered by
    any 6-token span that also occurs in another document is dropped;
    the remaining tokens keep their original order. Plan (single pass
    over the positional explode — j53's shape): span hashed to its
    xxhash64 key map-side (string never shuffled), per-(span,doc)
    pre-agg keeping the position list, doc frequency as a
    count-over-window on the span key (pre-agg rows are distinct
    (span,doc) pairs), df≥2 filter replaces the semi join, positions
    re-exploded into the per-doc covered-index set (collect_set,
    order-free because it is only probed by array_contains) → one
    ORDER-PRESERVING higher-order filter over the original token
    array. No pairwise stage, no materialize() barrier. The cleaned
    CONTENT is md5-verified cross-engine (j54's trick): the oracle
    rebuilds the exact surviving token sequence, so a single
    out-of-order or off-by-one token fails the gate."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
    return span_remove(toks)


def span_remove(toks: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Order-preserving removal of every token covered by a shared
    w-token span — see j58's docstring."""
    grams = (
        toks.filter(F.size("w") >= w)
        .select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("w"), w)).alias("pos0", "g"),
        )
        .select("doc_id", "pos0", F.xxhash64("g").alias("gk"))
    )
    occ = grams.groupBy("gk", "doc_id").agg(F.collect_list("pos0").alias("ps"))
    with_df = occ.withColumn("df", F.count("*").over(Window.partitionBy("gk")))
    covered = (
        with_df.filter(F.col("df") >= 2)
        .select("doc_id", F.explode("ps").alias("pos0"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos0") + 1, F.col("pos0") + w)).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("cv"))
    )
    cleaned = F.filter(
        F.col("w"),
        lambda t, i: F.col("cv").isNull() | ~F.array_contains(F.col("cv"), i + 1),
    )
    return (
        toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            (F.size("w") - F.size(cleaned)).cast("bigint").alias("n_removed"),
            F.md5(F.encode(F.concat_ws(" ", cleaned), "UTF-8")).alias("cleaned_md5"),
        )
    )


# ---------------------------------------------------------------- j59

@query(
    "j59_quality_calibration",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok,
             CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                  t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))
                  AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS stop_ratio,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / greatest(len(text), 1) AS digit_ratio,
             CAST(COALESCE(list_aggregate(list_transform(list_filter(string_split(text, ' '),
                    x -> x != ''), t -> len(t)), 'sum'), 0) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS avg_tok_len
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tok,
             {QLR_B} + {QLR_W_LEN} * (CAST(least(n_tok, 100) AS DOUBLE) / 100.0)
                     + {QLR_W_STOP} * stop_ratio
                     + {QLR_W_DIGIT} * digit_ratio
                     + {QLR_W_AVGLEN} * avg_tok_len AS score,
             round(ln(1 + n_tok) * (1.0 - digit_ratio) * (0.5 + stop_ratio), 4)
               AS heuristic
      FROM f
    )
    SELECT CAST(floor(score * 10) AS BIGINT) AS score_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(heuristic AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)
             AS avg_heuristic
    FROM scored
    GROUP BY 1
    """,
)
def j59_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CALIBRATION report: j55's model scores bucketed into
    0.1-wide bands vs the independent j12 heuristic's mean inside each
    band — the agreement curve a curation team reads before trusting a
    new quality model (a well-behaved model's bands rank the heuristic
    monotonically; inversions localize disagreement to a score range).
    Completes the detector/eval pairing the engine keeps (j33/j38 for
    ANN, j49 for dedup banding — this is the one for quality models).
    The heuristic mean is an ORDER-FREE exact sum: j12's quality is
    already rounded to 4 decimals, so summing as DECIMAL(12,4) is
    exact in any aggregation order, then ONE IEEE division — the same
    exact-sum convention as functions/exact.py. One scan, one hash
    agg; scales as a token count."""
    docs = load(spark, sf_dir, "documents")
    f = quality_feature_cols(F.col("text"))
    score = quality_lr_score(F.col("text"))
    heuristic = F.round(
        F.log(1 + f["n_tok"]) * (1.0 - f["digit_ratio"]) * (0.5 + f["stop_ratio"]), 4
    )
    scored = docs.select(
        score.alias("score"),
        heuristic.alias("heuristic"),
    )
    return (
        scored.groupBy(F.floor(F.col("score") * 10).cast("bigint").alias("score_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("score") >= 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            (
                F.sum(F.col("heuristic").cast("decimal(12,4)")).cast("double")
                / F.count("*")
            ).alias("avg_heuristic"),
        )
    )


# ---------------------------------------------------------------- j60

BM25_TERMS = ("join", "filter", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def _duck_bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks
      WHERE t IN ({terms}) GROUP BY doc_id, t
    ),
    idf AS (
      SELECT t, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t), stats s
    ),
    contrib AS (
      SELECT tf.doc_id,
             round(idf.idf * (tf.tf * ({BM25_K1} + 1.0))
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * (CAST(dl.len AS DOUBLE) / s.avgdl))), 6)
               AS c
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN idf ON idf.t = tf.t, stats s
    )
    SELECT doc_id,
           CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """


@query("j60_bm25_search", oracle=_duck_bm25_oracle())
def j60_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed term query —
    the SEARCH half of the inverted-index story j30 builds: tf, doc
    length, avgdl and idf all computed on-engine, top-10 docs by
    score. Scale shape is what makes engine-side BM25 viable at
    100 TB: the corpus explode is immediately filtered to the query's
    terms (predicate ON the exploded token, so only matching
    occurrences survive the map side), doc-length and avgdl come from
    one narrow agg, idf is a |terms|-row broadcast, and the final
    ranking is a TakeOrdered top-k, never a global sort. Per-term
    contributions are rounded to 6 decimals and summed as
    DECIMAL(18,6) — order-free exact aggregation (same convention as
    j59), so the float hash matches cross-engine; idf's ln() is
    inside the rounding, absorbing libm last-bit differences."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("t")
    )
    return (
        bm25_scores(toks)
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOPK)
    )


def bm25_scores(toks: DataFrame, pre_materialized: bool = False) -> DataFrame:
    """Full BM25 score table (doc_id, score) for the fixed BM25_TERMS
    query over (doc_id, token) rows — see j60's docstring for the
    scale shape. Shared by j60 (top-k search), j73 (hybrid RRF
    fusion) and j155 (ranking eval), so all rank from the identical
    score computation. ``pre_materialized=True`` lets a caller that
    already checkpointed the token table (j155, which also derives
    relevance from it) skip the redundant second checkpoint copy."""
    if not pre_materialized:
        toks = materialize(toks)
    # round 13: dl is consumed THREE times (stats for idf, stats for
    # contrib, and contrib's own join) — each re-ran the doc-length
    # agg over the full token table. The n_docs-row result
    # checkpoints once instead (the j158 lesson).
    dl = materialize(toks.groupBy("doc_id").agg(F.count("*").alias("len")))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_tbl.crossJoin(F.broadcast(stats)).select(
        "t",
        F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    contrib = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "t")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * (F.col("len").cast("double") / F.col("avgdl")))
                ),
                6,
            ).alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("score")
    )


# ---------------------------------------------------------------- j73

RRF_K = 60        # Cormack et al. 2009's smoothing constant
RRF_CAND = 50     # candidates taken from each ranking before fusion


def _duck_bm25_ctes() -> str:
    """The j60 oracle's CTE chain without the final SELECT, reusable
    inside larger oracle queries (j73)."""
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks
      WHERE t IN ({terms}) GROUP BY doc_id, t
    ),
    idf AS (
      SELECT t, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t), stats s
    ),
    contrib AS (
      SELECT tf.doc_id,
             round(idf.idf * (tf.tf * ({BM25_K1} + 1.0))
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * (CAST(dl.len AS DOUBLE) / s.avgdl))), 6)
               AS c
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN idf ON idf.t = tf.t, stats s
    ),
    sparse AS (
      SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM contrib GROUP BY doc_id
    )"""


@query(
    "j73_hybrid_rrf",
    oracle=f"""
    WITH {_duck_bm25_ctes()},
    sr AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_sparse
      FROM (SELECT * FROM sparse ORDER BY score DESC, doc_id LIMIT {RRF_CAND})
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    ds AS (
      SELECT vec_id,
             {_duck_pair_dot("e.embedding", "q.qe")}
               / (sqrt({_duck_pair_dot("e.embedding", "e.embedding")})
                  * sqrt({_duck_pair_dot("q.qe", "q.qe")})) AS sim
      FROM embeddings e, q WHERE vec_id != 0
    ),
    dr AS (
      SELECT vec_id AS doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r_dense
      FROM (SELECT * FROM ds ORDER BY sim DESC, vec_id LIMIT {RRF_CAND})
    ),
    fused AS (
      SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
             sr.r_sparse, dr.r_dense,
             COALESCE(CAST(round(1.0 / ({RRF_K} + sr.r_sparse), 6) AS DECIMAL(18,6)),
                      CAST(0 AS DECIMAL(18,6)))
             + COALESCE(CAST(round(1.0 / ({RRF_K} + dr.r_dense), 6) AS DECIMAL(18,6)),
                        CAST(0 AS DECIMAL(18,6))) AS rrf
      FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
    )
    SELECT doc_id, r_sparse, r_dense, CAST(rrf AS DOUBLE) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def j73_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion via Reciprocal Rank Fusion (Cormack et
    al. 2009, the de-facto standard for combining sparse and dense
    retrievers in RAG stacks): the BM25 ranking for the fixed term
    query (j60's exact score table, shared helper) is fused with a
    dense cosine ranking against a fixed query embedding (vec_id 0,
    j3's bit-exact sequential-fold cosine) by summing 1/(K + rank)
    over the two lists; items missing from one list contribute 0 from
    it. Scale shape: each side reduces to its top-{RRF_CAND} via
    TakeOrderedAndProject (never a global sort of the corpus), the
    rank window then runs on a {RRF_CAND}-row frame, and the fusion
    join is {RRF_CAND}×{RRF_CAND} — the expensive parts are exactly
    the two retrievers, both already scan-shaped. RRF contributions
    round to 6 and sum as DECIMAL (j60's convention) so the fused
    score hash-matches cross-engine; ranks cast to bigint to match
    the oracle's row_number type."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("t")
    )
    w_sparse = Window.orderBy(F.desc("score"), "doc_id")
    sr = (
        bm25_scores(toks)
        .orderBy(F.desc("score"), "doc_id")
        .limit(RRF_CAND)
        .select("doc_id", F.row_number().over(w_sparse).cast("bigint").alias("r_sparse"))
    )
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    ds = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                vdot(F.col("embedding"), F.col("qe"))
                / (l2_norm(F.col("embedding")) * l2_norm(F.col("qe")))
            ).alias("sim"),
        )
    )
    w_dense = Window.orderBy(F.desc("sim"), "vec_id")
    dr = (
        ds.orderBy(F.desc("sim"), "vec_id")
        .limit(RRF_CAND)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number().over(w_dense).cast("bigint").alias("r_dense"),
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1.0) / (F.lit(RRF_K) + r), 6).cast("decimal(18,6)"), zero
    )
    fused = sr.join(dr, "doc_id", "full_outer").select(
        "doc_id",
        "r_sparse",
        "r_dense",
        (contrib(F.col("r_sparse")) + contrib(F.col("r_dense"))).alias("rrf"),
    )
    return (
        fused.select("doc_id", "r_sparse", "r_dense", F.col("rrf").cast("double").alias("rrf_score"), "rrf")
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
        .drop("rrf")
    )


# ---------------------------------------------------------------- j74

DP_EPS = 1.0  # per-release privacy budget for the Laplace mechanism


def dp_counts_plan(docs: DataFrame, eps: float = DP_EPS, salt: str = "dp:") -> DataFrame:
    """Laplace-noised (lang, source) histogram with seed-addressed
    noise; ``salt`` is the seed prefix. SECURITY NOTE: with a PUBLIC
    salt (the registered query's "dp:" — needed for DuckDB oracle
    parity) the noise is recomputable from the released row's own
    group key, so the true count is exactly recoverable and the
    release provides NO privacy — it is a deterministic SIMULATION of
    the mechanism. A deployment must pass a secret, per-release salt;
    only then does the inverse-CDF draw behave as an unpredictable
    Laplace sample and the ε-DP guarantee hold."""
    g = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col("lang"), F.lit(":"), F.col("source"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(20,0)").cast("double")
    uni = (v + F.lit(0.5)) / F.lit(float(16**15))
    s = uni - F.lit(0.5)
    noise = (F.lit(-1.0 / eps)) * F.signum(s) * F.log(F.lit(1.0) - 2.0 * F.abs(s))
    return g.select(
        "lang",
        "source",
        F.round(F.col("n") + noise, 4).alias("noisy_count"),
    )


@query(
    "j74_dp_counts",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
    ),
    u AS (
      SELECT lang, source, n,
             (('0x' || substr(md5('dp:' || lang || ':' || source), 1, 15))::BIGINT + 0.5)
               / 1152921504606846976.0 AS uni
      FROM g
    )
    SELECT lang, source,
           round(n + (-1.0 / {DP_EPS}) * sign(uni - 0.5)
                     * ln(1.0 - 2.0 * abs(uni - 0.5)), 4) AS noisy_count
    FROM u
    """,
)
def j74_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork et al. 2006 Laplace
    mechanism) over the corpus (lang, source) histogram: each count
    gets Laplace(1/ε) noise, calibrated to the count query's
    sensitivity of 1, and the TRUE counts are dropped from the output.
    The noise is CONTENT-ADDRESSED, not RNG: uniform u ∈ (0,1) comes
    from the group key's md5 (the engine-wide reproducibility
    contract — a rerun releases the identical table, and the DuckDB
    twin derives the same u), then the inverse-CDF transform
    −(1/ε)·sign(u−½)·ln(1−2|u−½|) maps it to Laplace. The +0.5
    numerator offset keeps u strictly inside (0,1) so ln never sees 0.
    THIS REGISTERED VARIANT USES A PUBLIC SALT and is therefore a
    reproducible simulation of the mechanism, NOT a private release —
    the noise is recomputable from the output row's own key (see
    ``dp_counts_plan``, which takes the secret ``salt`` a deployment
    must supply). Plan: one hash agg + pure expressions — map-side
    combinable, no shuffle beyond the groupBy, scales like any
    histogram. round(4) absorbs libm ln last-bit drift (j31's
    convention)."""
    return dp_counts_plan(load(spark, sf_dir, "documents"), DP_EPS, "dp:")


# ---------------------------------------------------------------- j75

PHRASE_DELTA = 5   # discount: suppresses phrases built from rare pairs
PHRASE_MIN = 5     # minimum bigram count to be considered at all
PHRASE_TOPK = 20


@query(
    "j75_phrase_mining",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    uni AS (
      SELECT t, COUNT(*) AS c1 FROM (
        SELECT unnest(w) AS t FROM toks
      ) GROUP BY t
    ),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT g, COUNT(*) AS c2 FROM (
        SELECT unnest({_duck_ngrams("w", 2)}) AS g FROM toks WHERE len(w) >= 2
      ) GROUP BY g HAVING COUNT(*) >= {PHRASE_MIN}
    ),
    scored AS (
      SELECT bg.g AS phrase, bg.c2,
             CAST((bg.c2 - {PHRASE_DELTA}) * tot.n AS DOUBLE)
               / (ua.c1 * ub.c1) AS score
      FROM bg
      JOIN uni ua ON ua.t = split_part(bg.g, ' ', 1)
      JOIN uni ub ON ub.t = split_part(bg.g, ' ', 2), tot
    )
    SELECT phrase, c2 AS n_pair, score
    FROM scored ORDER BY score DESC, phrase LIMIT {PHRASE_TOPK}
    """,
)
def j75_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation/phrase detection (Mikolov et al. 2013's phrase
    score, the word2vec preprocessing pass): score(a b) =
    (c(ab) − δ)·N / (c(a)·c(b)) — bigrams whose joint count beats
    chance get merged into single tokens before embedding training.
    Top-{PHRASE_TOPK} phrases with count ≥ {PHRASE_MIN}. Plan: the
    unigram and bigram count tables are the only shuffles (hash aggs
    with map-side combine); the HAVING cuts the bigram table to the
    frequent tail BEFORE the two vocab-keyed equi joins, N attaches
    as a 1-row broadcast, and the ranking is TakeOrdered — at 100 TB
    this is three bounded-payload aggs over a token stream, the same
    shape as j44's LM counts. Score is integer arithmetic in both
    numerator and denominator with ONE final division (single IEEE
    op, bit-identical cross-engine — exact.py's int-ratio rule)."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
    uni = (
        toks.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c1"))
    )
    tot = uni.agg(F.sum("c1").cast("bigint").alias("n"))
    bg = (
        toks.filter(F.size("w") >= 2)
        .select(F.explode(word_ngrams(F.col("w"), 2)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c2"))
        .filter(F.col("c2") >= PHRASE_MIN)
    )
    ua = uni.select(F.col("t").alias("wa"), F.col("c1").alias("ca"))
    ub = uni.select(F.col("t").alias("wb"), F.col("c1").alias("cb"))
    scored = (
        bg.withColumn("wa", F.expr("split_part(g, ' ', 1)"))
        .withColumn("wb", F.expr("split_part(g, ' ', 2)"))
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("g").alias("phrase"),
            F.col("c2").alias("n_pair"),
            (
                ((F.col("c2") - F.lit(PHRASE_DELTA)) * F.col("n")).cast("double")
                / (F.col("ca") * F.col("cb"))
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), "phrase").limit(PHRASE_TOPK)


# ---------------------------------------------------------------- j76

LM_LAMBDA = 0.5  # Jelinek-Mercer interpolation weight on the bigram term


def _duck_lm_interp_ctes() -> str:
    """The j76 oracle's CTE chain + final per-doc SELECT as a CTE named
    `lm`, reusable inside larger oracle queries (j77)."""
    return f"""
    toks AS ({_DUCK_TOKS}),
    uni AS (
      SELECT t, COUNT(*) AS cu FROM (
        SELECT unnest(w) AS t FROM toks
      ) GROUP BY t
    ),
    tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
    bgs AS (
      SELECT doc_id, lang, unnest({_duck_ngrams("w", 2)}) AS g
      FROM toks WHERE len(w) >= 2
    ),
    b2 AS (SELECT g, COUNT(*) AS c2 FROM bgs GROUP BY g),
    b1 AS (SELECT split_part(g, ' ', 1) AS w1, COUNT(*) AS c1 FROM bgs GROUP BY 1),
    lm AS (
      SELECT bgs.doc_id, bgs.lang,
             COUNT(*) AS n_bigrams,
             round(avg(ln({LM_LAMBDA} * CAST(b2.c2 AS DOUBLE) / b1.c1
                          + {1.0 - LM_LAMBDA} * CAST(uni.cu AS DOUBLE) / tot.n)), 4)
               AS interp_score
      FROM bgs
      JOIN b2 ON b2.g = bgs.g
      JOIN b1 ON b1.w1 = split_part(bgs.g, ' ', 1)
      JOIN uni ON uni.t = split_part(bgs.g, ' ', 2), tot
      GROUP BY bgs.doc_id, bgs.lang
    )"""


@query(
    "j76_lm_interp",
    oracle=f"""
    WITH {_duck_lm_interp_ctes()}
    SELECT doc_id, lang, n_bigrams, interp_score FROM lm
    """,
)
def j76_lm_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated LM quality scoring (the classic
    smoothing j44's add-one sidesteps): per-occurrence probability
    λ·p(w2|w1) + (1−λ)·p(w2) with MLE estimates — the bigram term
    captures fluency, the unigram backoff keeps unseen-context
    penalties finite (every scored bigram was observed, so no zeros).
    Per-doc average log-probability, the perplexity proxy used for
    CCNet-style quality bucketing. Plan: j44's occurrence-stream
    shape plus one more vocab-keyed equi join (unigram backoff
    table); counts aggregate map-side, N is a 1-row broadcast, and
    the stream materializes once to serve the count tables and the
    scoring joins. ln+avg rounds to 4 (exact.py convention, same as
    j44/j31)."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", "lang", whitespace_tokens(F.col("text")).alias("w"))
    )
    return lm_interp_scores(toks)


def lm_interp_scores(toks: DataFrame) -> DataFrame:
    """Per-(doc_id, lang) interpolated LM score table — see j76's
    docstring. Shared by j76 (the score release) and j77 (CCNet-style
    quality bucketing), so both consume the identical scoring."""
    uni = (
        toks.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cu"))
    )
    tot = uni.agg(F.sum("cu").cast("bigint").alias("n"))
    bgs = materialize(
        toks.filter(F.size("w") >= 2).select(
            "doc_id", "lang", F.explode(word_ngrams(F.col("w"), 2)).alias("g")
        )
    )
    b2 = bgs.groupBy("g").agg(F.count("*").alias("c2"))
    b1 = (
        bgs.select(F.expr("split_part(g, ' ', 1)").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    scored = (
        bgs.join(b2, "g")
        .withColumn("w1", F.expr("split_part(g, ' ', 1)"))
        .withColumn("w2", F.expr("split_part(g, ' ', 2)"))
        .join(b1, "w1")
        .join(uni.select(F.col("t").alias("w2"), "cu"), "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "logp",
            F.log(
                F.lit(LM_LAMBDA) * F.col("c2").cast("double") / F.col("c1")
                + F.lit(1.0 - LM_LAMBDA) * F.col("cu").cast("double") / F.col("n")
            ),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("interp_score"),
    )


# ---------------------------------------------------------------- j77

QB_BUCKETS = ("head", "middle", "tail")


@query(
    "j77_quality_buckets",
    oracle=f"""
    WITH {_duck_lm_interp_ctes()},
    ranked AS (
      SELECT doc_id, n_bigrams, interp_score,
             ntile(3) OVER (ORDER BY interp_score DESC, doc_id) AS tile
      FROM lm
    )
    SELECT CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           round(avg(interp_score), 4) AS avg_score,
           round(min(interp_score), 4) AS min_score,
           round(max(interp_score), 4) AS max_score
    FROM ranked GROUP BY 1
    """,
)
def j77_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): the corpus
    splits into equal-sized head/middle/tail thirds by LM score (j76's
    interpolated log-prob, shared helper) — head feeds training
    as-is, middle gets a second look, tail is dropped or heavily
    downsampled. Buckets are assigned by RANK (ntile over
    score desc, doc_id), not by score thresholds: equal thirds is the
    CCNet semantics, and rank assignment is immune to the float
    threshold-boundary drift a `score >= cutoff` rule risks
    cross-engine. The global ntile is a range exchange where ordering
    IS the semantics (f6's category); at 100 TB the split uses
    sampled split points (repartitionByRange's own mechanism) or h9's
    sketch percentiles — the per-bucket aggregate shape is
    unchanged. Output: per-bucket doc count, bigram volume and score
    envelope (the dataset-card row for each quality tier)."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", "lang", whitespace_tokens(F.col("text")).alias("w"))
    )
    lm = lm_interp_scores(toks)
    ranked = lm.select(
        "doc_id",
        "n_bigrams",
        "interp_score",
        F.ntile(3)
        .over(Window.orderBy(F.desc("interp_score"), "doc_id"))
        .alias("tile"),
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return ranked.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("interp_score"), 4).alias("avg_score"),
        F.round(F.min("interp_score"), 4).alias("min_score"),
        F.round(F.max("interp_score"), 4).alias("max_score"),
    )


# ---------------------------------------------------------------- j78

CDC_W = 8    # boundary-test window (chars)
CDC_M = 64   # boundary modulus -> expected chunk length ~M chars


@query(
    "j78_cdc_chunks",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text,
             list_filter(range(1, greatest(len(text) - {CDC_W} + 1, 1) + 1),
               p -> p > 1 AND
                    ('0x' || substr(md5(substr(text, p, {CDC_W})), 1, 15))::BIGINT
                      % {CDC_M} = 0) AS cuts
      FROM documents
    ),
    bounds AS (
      SELECT doc_id, text,
             list_concat(list_concat([1], cuts), [len(text) + 1]) AS b
      FROM pos
    ),
    chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(b)),
               i -> md5(substr(text, b[i], b[i + 1] - b[i])))) AS ch,
             unnest(list_transform(range(1, len(b)), i -> b[i + 1] - b[i])) AS clen
      FROM bounds
    )
    SELECT COUNT(*) AS n_chunks,
           COUNT(DISTINCT ch) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT ch) AS DOUBLE) / COUNT(*) AS dup_ratio,
           CAST(SUM(clen) AS DOUBLE) / COUNT(*) AS avg_len
    FROM chunks
    """,
)
def j78_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC storage-dedup
    primitive): a chunk boundary falls wherever the hash of the
    {CDC_W}-char window at that position ≡ 0 mod {CDC_M}, so chunk
    boundaries are a function of CONTENT, not offsets — an insertion
    shifts only the chunks it touches, and identical passages in
    different documents produce identical chunks. Corpus-level
    output: chunk count, distinct chunks, dup ratio (the storage
    saving a chunk store would realize) and mean chunk length
    (~{CDC_M} by construction). Plan: everything up to the chunk
    hashes is per-row higher-order expressions (no shuffle at all —
    boundary scan, cut-point split and chunk digests all map-side);
    the only exchange is the final count-distinct agg, whose payload
    is 16-byte digests. In production the boundary test is a rolling
    Rabin/Gear hash (O(1) per position); the md5-window stand-in here
    is O(W) per position but keeps the oracle engine-exact — same
    boundaries, same chunks, same ratio. Int-ratio divisions are
    single IEEE ops (exact.py's rule)."""
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    win_hash = lambda p: F.conv(  # noqa: E731
        F.substring(F.md5(text.substr(p, F.lit(CDC_W))), 1, 15), 16, 10
    ).cast("decimal(20,0)")
    cuts = F.filter(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (CDC_W - 1), F.lit(1))),
        lambda p: (p > 1) & (win_hash(p) % CDC_M == 0),
    )
    bounds = F.concat(F.array(F.lit(1)), cuts, F.array(F.length(text) + 1))
    with_b = widen(docs).select("doc_id", "text", bounds.alias("b"))
    idx = F.sequence(F.lit(1), F.size("b") - 1)
    chunks = with_b.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.md5(
                        F.col("text").substr(
                            F.element_at("b", i), F.element_at("b", i + 1) - F.element_at("b", i)
                        )
                    ).alias("ch"),
                    (F.element_at("b", i + 1) - F.element_at("b", i)).alias("clen"),
                ),
            )
        ).alias("c"),
    ).select(F.col("c.ch").alias("ch"), F.col("c.clen").alias("clen"))
    return chunks.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("ch").alias("n_distinct"),
        (
            (F.count("*") - F.countDistinct("ch")).cast("double") / F.count("*")
        ).alias("dup_ratio"),
        (F.sum("clen").cast("double") / F.count("*")).alias("avg_len"),
    )


# ---------------------------------------------------------------- j79

SQ_LEVELS = 255  # int8-style scalar quantization levels
SQ_QUERIES = 10  # j3's query set
SQ_K = 5


@query(
    "j79_embed_quantize",
    oracle=f"""
    WITH dims AS (
      SELECT u.i AS pos, CAST(e.embedding[u.i] AS DOUBLE) AS x
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) u
    ),
    rng AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY pos),
    err AS (
      SELECT e.vec_id, u.i AS pos,
             CAST(e.embedding[u.i] AS DOUBLE) AS x,
             CASE WHEN rng.mx = rng.mn THEN CAST(e.embedding[u.i] AS DOUBLE)
                  ELSE rng.mn + round((CAST(e.embedding[u.i] AS DOUBLE) - rng.mn)
                                      * {SQ_LEVELS}.0 / (rng.mx - rng.mn), 0)
                              * (rng.mx - rng.mn) / {SQ_LEVELS}.0
             END AS dq
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) u
      JOIN rng ON rng.pos = u.i
    ),
    qv AS (SELECT vec_id, list(dq ORDER BY pos) AS dqv FROM err GROUP BY vec_id),
    dist AS (
      SELECT CAST(COUNT(*) / 64 AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(round((x - dq) * (x - dq), 12) AS DECIMAL(28,12)))
                  AS DOUBLE) / COUNT(*) AS mse,
             MAX(abs(x - dq)) AS max_abs_err
      FROM err
    ),
    exact AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_pair_dot("q.embedding", "c.embedding")}
                          / (sqrt({_duck_pair_dot("q.embedding", "q.embedding")})
                             * sqrt({_duck_pair_dot("c.embedding", "c.embedding")})) DESC,
                          c.vec_id
               ) AS r
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {SQ_QUERIES} AND q.vec_id != c.vec_id
      ) WHERE r <= {SQ_K}
    ),
    quant AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_pair_dot("qq.dqv", "cc.dqv")}
                          / (sqrt({_duck_pair_dot("qq.dqv", "qq.dqv")})
                             * sqrt({_duck_pair_dot("cc.dqv", "cc.dqv")})) DESC,
                          c.vec_id
               ) AS r
        FROM embeddings q
        JOIN qv qq ON qq.vec_id = q.vec_id,
             embeddings c
        JOIN qv cc ON cc.vec_id = c.vec_id
        WHERE q.vec_id < {SQ_QUERIES} AND q.vec_id != c.vec_id
      ) WHERE r <= {SQ_K}
    ),
    ov AS (
      SELECT COUNT(*) AS n_ov FROM exact JOIN quant USING (qid, cid)
    )
    SELECT dist.n_vecs, dist.mse, dist.max_abs_err,
           CAST(ov.n_ov AS DOUBLE) / {SQ_QUERIES * SQ_K} AS recall{SQ_K}
    FROM dist, ov
    """,
)
def j79_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8-style) embedding quantization with its quality
    audit — the 4× memory compression every large vector store applies
    before ANN serving: per-dimension [min,max] ranges quantize each
    coordinate to {SQ_LEVELS}+1 levels, and the release decision
    hinges on two measurements this op computes on-engine: the
    reconstruction distortion (MSE + worst coordinate error) and the
    retrieval damage (recall@{SQ_K} of quantized cosine top-k against
    exact top-k for j3's query set). Plan: the per-dim range table is
    a 64-row agg broadcast back as a sorted struct array; quantize/
    dequantize run inside one zip_with projection (map-side, no
    shuffle of the corpus); distortion aggregates over the exploded
    error stream; both top-k sides are j3's broadcast-queries ×
    candidate-scan shape. Exactness: all arithmetic in doubles with a
    fixed op order (identical in DuckDB), squared errors round(12)
    and sum as DECIMAL (order-free), counts and the recall ratio are
    int arithmetic + one division. At 100 TB the range table comes
    from a sample or sketch (h9) instead of an exact min/max pass —
    the quantize/eval shape is unchanged."""
    from json2hbase_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "xf"))
    rng = dims.groupBy("pos").agg(
        F.min("xf").cast("double").alias("mn"), F.max("xf").cast("double").alias("mx")
    )
    stats = rng.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("st")
    )
    # constant-dimension guard (mx == mn): the unguarded formula is 0/0
    # = NaN in Spark but NULL in DuckDB's div-by-zero convention; a
    # constant dim quantizes to itself exactly (oracle mirrors the CASE)
    deq = lambda x, s: F.when(s["mx"] == s["mn"], x.cast("double")).otherwise(  # noqa: E731
        s["mn"]
        + F.round((x.cast("double") - s["mn"]) * float(SQ_LEVELS) / (s["mx"] - s["mn"]), 0)
        * (s["mx"] - s["mn"])
        / float(SQ_LEVELS)
    )
    qv = materialize(
        emb.crossJoin(F.broadcast(stats)).select(
            "vec_id",
            "embedding",
            F.zip_with("embedding", "st", deq).alias("dqv"),
        )
    )
    errs = qv.select(
        F.explode(
            F.zip_with("embedding", "dqv", lambda x, d: x.cast("double") - d)
        ).alias("err")
    )
    dist = errs.agg(
        (F.count("*") / 64).cast("bigint").alias("n_vecs"),
        (
            F.sum(F.round(F.col("err") * F.col("err"), 12).cast("decimal(28,12)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mse"),
        F.max(F.abs("err")).alias("max_abs_err"),
    )
    q_orig = emb.filter(F.col("vec_id") < SQ_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c_orig = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    exact = cosine_topk(q_orig, c_orig, SQ_K).select("qid", "cid")
    q_q = qv.filter(F.col("vec_id") < SQ_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("dqv").alias("qvec")
    )
    c_q = qv.select(F.col("vec_id").alias("cid"), F.col("dqv").alias("cvec"))
    quant = cosine_topk(q_q, c_q, SQ_K).select("qid", "cid")
    # both sides are SQ_QUERIES*SQ_K rows — broadcast the overlap probe
    ov = exact.join(F.broadcast(quant), ["qid", "cid"]).agg(F.count("*").alias("n_ov"))
    return dist.crossJoin(F.broadcast(ov)).select(
        "n_vecs",
        "mse",
        "max_abs_err",
        (F.col("n_ov").cast("double") / float(SQ_QUERIES * SQ_K)).alias(f"recall{SQ_K}"),
    )


# ---------------------------------------------------------------- j61

MIX_ALPHA = 0.7      # temperature exponent (UNIMAX/mT5-style)
MIX_BUDGET = 0.3     # total sample budget as a fraction of the corpus


@query(
    "j61_temperature_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(pow(CAST(n AS DOUBLE), {MIX_ALPHA})) AS z,
             CAST(SUM(n) AS BIGINT) AS n_corpus
      FROM counts
    ),
    quota AS (
      SELECT c.source, c.n,
             round(pow(CAST(c.n AS DOUBLE), {MIX_ALPHA}) / t.z, 6) AS w,
             least(1.0, ({MIX_BUDGET} * t.n_corpus)
                        * round(pow(CAST(c.n AS DOUBLE), {MIX_ALPHA}) / t.z, 6)
                        / c.n) AS rate
      FROM counts c, tot t
    ),
    kept AS (
      SELECT d.source, d.doc_id
      FROM documents d JOIN quota q ON q.source = d.source
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
            < CAST(floor(q.rate * 4294967296.0) AS BIGINT)
    )
    SELECT q.source,
           CAST(q.n AS BIGINT) AS n_total,
           q.rate AS quota_rate,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_sampled
    FROM quota q LEFT JOIN kept k ON k.source = q.source
    GROUP BY q.source, q.n, q.rate
    """,
)
def j61_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (UNIMAX/mT5 recipe,
    α=0.7): per-source sampling rates DERIVED from the corpus itself —
    weight ∝ n^α flattens the source distribution so small sources
    up-weight without exploding epochs on tiny ones — then a
    deterministic md5-threshold sample realizes each quota (j19's
    content-addressed trick, but with COMPUTED rates instead of a
    fixed table; the keep test is an integer compare against a 32-bit
    hash, reproducible on any engine and any run). Weights round to 6
    decimals BEFORE the quota arithmetic so the pow()/division chain
    is cross-engine stable. Plan: one counts agg, a source-sized
    broadcast of quotas, one map-side filter — the corpus is touched
    exactly once, no shuffle of sampled rows."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum(F.pow(F.col("n").cast("double"), MIX_ALPHA)).alias("z"),
        F.sum("n").cast("bigint").alias("n_corpus"),
    )
    w = F.round(F.pow(F.col("n").cast("double"), MIX_ALPHA) / F.col("z"), 6)
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.least(
            F.lit(1.0), (MIX_BUDGET * F.col("n_corpus")) * w / F.col("n")
        ).alias("rate"),
    )
    h32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    kept = (
        docs.join(F.broadcast(quota), "source")
        .filter(h32 < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"))
        .select("source", "doc_id")
    )
    return (
        # broadcast the |sources|-row tally: the left-join then needs
        # no exchange on the quota side (a default SMJ would sort two
        # 20-row sides through three exchanges)
        quota.join(
            F.broadcast(kept.groupBy("source").agg(F.count("*").alias("k"))),
            "source",
            "left",
        )
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_total"),
            F.col("rate").alias("quota_rate"),
            F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


# --------------------------------------------------------------- j101


def _duck_source_dup_matrix_oracle() -> str:
    base = _duck_md5_minhash_oracle()
    head = base[: base.index("SELECT c.doc_a")]
    jacc = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    return (
        head
        + f""", pairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST(floor({jacc} * 10000) AS BIGINT) AS qj
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {jacc} >= 0.5
    ),
    srcd AS (
      SELECT least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b,
             p.qj
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(qj) AS DOUBLE) / (COUNT(*) * 10000), 4) AS avg_jacc,
           round(CAST(MAX(qj) AS DOUBLE) / 10000, 4) AS max_jacc
    FROM srcd GROUP BY src_a, src_b
    """
    )


@query("j101_source_dup_matrix", oracle=_duck_source_dup_matrix_oracle())
def j101_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — WHO mirrors WHOM: the
    verified near-dup pairs (j48's banded md5-MinHash candidates,
    confirmed at exact Jaccard ≥ 0.5 on the materialized shingle
    arrays) rolled up to unordered source pairs with pair count and
    avg/max similarity. The diagonal (src_a == src_b) is within-source
    duplication (template reuse); off-diagonal cells are mirror/
    syndication relationships — at corpus scale this matrix is what
    decides crawl-source priorities and which source pair gets a
    targeted dedup pass. Exactness: per-pair Jaccard quantizes to a
    BIGINT (floor(j·10⁴)) before the sum, so avg_jacc is one division
    of exact integers — no float-summation-order drift to tolerate.

    Plan: reuses j48/j49's shared pipeline (materialized shingle
    table, banded candidate join — never all-pairs); the source
    attach is two equi joins of the TINY verified-pair set against
    the corpus (each a broadcast of pairs in practice); the final agg
    is |sources|² bounded. At 100 TB the matrix costs the same banded
    dedup everyone already runs plus two id-keyed lookups.
    Cites j48 (corpus_queries.py) and SCALE.md's banding linearity."""
    sh, cand = _md5_minhash_parts(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jacc = inter.cast("double") / union
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jacc", jacc)
        .filter(F.col("jacc") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("jacc") * 10000).cast("bigint").alias("qj"),
        )
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_1"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_2"))
    srcd = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("src_1", "src_2").alias("src_a"),
            F.greatest("src_1", "src_2").alias("src_b"),
            "qj",
        )
    )
    return srcd.groupBy("src_a", "src_b").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.sum("qj").cast("double") / (F.count("*") * 10000), 4).alias(
            "avg_jacc"
        ),
        F.round(F.max("qj").cast("double") / 10000, 4).alias("max_jacc"),
    )


# --------------------------------------------------------------- j102


@query(
    "j102_chunk_dedup",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    s AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, {CHUNK_TOKENS})) AS st
      FROM toks WHERE len(w) >= 1
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, st, least(st + {CHUNK_TOKENS} - 1, len(w))), ' '))
               AS chunk_hash
      FROM s
    ),
    flagged AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY chunk_hash) AS cnt
      FROM ch
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           round(CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS dup_chunk_frac
    FROM flagged GROUP BY doc_id
    """,
)
def j102_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup — duplication measured at the
    RAG/training-window unit: docs split into NON-overlapping
    {CHUNK_TOKENS}-token chunks (j42's chunker at stride = chunk), a
    chunk occurring ≥2 times corpus-wide (within-doc repeats count,
    j93's rule) is duplicated; per doc: chunk count, duplicated
    chunks, duplicated fraction. This is the granularity that matters
    for training-set token accounting: doc-level dedup (j1) misses a
    copied section inside an otherwise-unique doc, substring audit
    (j93) is chars-heavy — chunk hashing is the cheap middle that
    matches how the data is actually windowed into examples.

    Plan: token split + slice + md5 are one widened map pass
    (~n_tokens/{CHUNK_TOKENS} rows of 16-byte hashes — 64× lighter
    than j93's every-offset stream); the dup flag is j93's
    count-over-window on the hash (one exchange); the per-doc rollup
    map-side combines. Linear, no join, no pair stage."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs)
        .select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 1)
    )
    ch = rag_chunks(toks, CHUNK_TOKENS, CHUNK_TOKENS).select("doc_id", "chunk_hash")
    flagged = ch.withColumn(
        "cnt", F.count("*").over(Window.partitionBy("chunk_hash"))
    )
    dup = F.when(F.col("cnt") >= 2, 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(dup).cast("bigint").alias("n_dup_chunks"),
        F.round(F.sum(dup).cast("double") / F.count("*"), 4).alias("dup_chunk_frac"),
    )


# --------------------------------------------------------------- j117


def _duck_cross_source_clusters_oracle() -> str:
    # j48's fully-hash-checked CTE chain up to the verified pair set,
    # then a FIXPOINT recursive component resolution (j108's oracle
    # posture over j48's edges) and the per-source-set rollup.
    base = _duck_md5_minhash_oracle()
    head = base[: base.index("SELECT c.doc_a")]
    return (
        "WITH RECURSIVE "
        + head.strip().removeprefix("WITH")
        + f""",
    vp AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5
    ),
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM vp UNION SELECT doc_b FROM vp
      )
    ),
    bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM vp
      UNION ALL SELECT doc_b, doc_a FROM vp
    ),
    reach(node, reached) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.node, bi.dst FROM reach r JOIN bi ON bi.src = r.reached
    ),
    comp AS (SELECT node AS doc_id, min(reached) AS cluster
             FROM reach GROUP BY node),
    csrc AS (
      SELECT c.cluster,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             array_to_string(list_sort(list(DISTINCT d.source)), ',')
               AS source_set
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
      GROUP BY c.cluster
    ),
    cpair AS (
      SELECT c.cluster, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM vp p JOIN comp c ON c.doc_id = p.doc_a
      GROUP BY c.cluster
    )
    SELECT s.source_set,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(s.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_pairs) AS BIGINT) AS n_pairs,
           CAST(MAX(s.n_docs) AS BIGINT) AS max_cluster_docs
    FROM csrc s JOIN cpair p ON p.cluster = s.cluster
    GROUP BY s.source_set
    """
    )


@query("j117_cross_source_clusters", oracle=_duck_cross_source_clusters_oracle())
def j117_cross_source_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup CLUSTERS — the cluster-grain upgrade of
    j101's pair matrix: j48's banded-and-verified md5-MinHash edges
    (exact Jaccard ≥ 0.5, fully hash-checked) are resolved into TRUE
    connected components (j108's converged pointer-doubling
    propagation with its tripwire), each cluster is labeled with its
    SOURCE SET (the sorted distinct sources of its members), and the
    report rolls up per source set: how many mirror families span
    exactly this set of sources, how many docs and verified pairs
    they hold, and the largest family. j101 answers "which source
    PAIRS mirror each other"; this answers the question dedup policy
    actually needs — "which source COMBINATIONS are one family", the
    unit j26's canonical pick and crawl-priority decisions act on
    (a 3-source family is one decision, not 3 pair cells).

    Plan: reuses j48/j49's shared pipeline (materialized shingle
    table, banded candidate join — never all-pairs) + the verified
    pair set materialized once as the propagation's edge invariant;
    label propagation is _labels_converged's stats-based
    broadcast-or-SMJ rounds with adaptive early-exit; the source
    attach is one id-keyed join of the tiny component table against
    the corpus; the rollups are two bounded hash aggs (≤ |clusters|
    rows, then ≤ 2^|sources| source-set rows, in practice a handful).
    At 100 TB: the same banded dedup everyone already runs + the
    per-iteration checkpoint cadence (SCALE.md, j108's argument)."""
    from json2hbase_spark.plans.advanced_queries import _labels_converged

    sh, cand = _md5_minhash_parts(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jacc = inter.cast("double") / union
    vp = materialize(
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jacc", jacc)
        .filter(F.col("jacc") >= 0.5)
        .select("doc_a", "doc_b")
    )
    labels = _labels_converged(vp)
    csrc = (
        labels.join(docs.select(F.col("doc_id").alias("node"), "source"), "node")
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias(
                "source_set"
            ),
        )
    )
    cpair = (
        vp.join(labels.select(F.col("node").alias("doc_a"), "label"), "doc_a")
        .groupBy(F.col("label").alias("cluster"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )
    return (
        csrc.join(cpair, "cluster")
        .groupBy("source_set")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_pairs").cast("bigint").alias("n_pairs"),
            F.max("n_docs").cast("bigint").alias("max_cluster_docs"),
        )
    )


# --------------------------------------------------------------- j138


def _duck_lexsem_oracle() -> str:
    from json2hbase_spark.plans.llm_queries import _duck_bucket, _duck_dot, _duck_norm

    base = _duck_md5_minhash_oracle()
    head = base[: base.index("SELECT c.doc_a")]
    jacc = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    return (
        head
        + f""", vp AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {jacc} >= 0.5
    ),
    bv AS MATERIALIZED (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket,
             {_duck_norm("embedding")} AS nrm
      FROM embeddings
    ),
    sem AS (
      SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
      FROM bv a JOIN bv b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      WHERE {_duck_dot("a.embedding", "b2.embedding")} / (a.nrm * b2.nrm) >= 0.35
    ),
    allp AS (
      SELECT COALESCE(v.doc_a, s.doc_a) AS doc_a,
             COALESCE(v.doc_b, s.doc_b) AS doc_b,
             v.doc_a IS NOT NULL AS is_lex,
             s.doc_a IS NOT NULL AS is_sem
      FROM vp v FULL JOIN sem s ON s.doc_a = v.doc_a AND s.doc_b = v.doc_b
    ),
    att AS (
      SELECT CASE WHEN p.is_lex AND p.is_sem THEN 'both'
                  WHEN p.is_lex THEN 'lexical_only'
                  ELSE 'semantic_only' END AS category,
             CAST(COALESCE(floor({jacc} * 10000), 0) AS BIGINT) AS qj,
             CAST(floor({_duck_dot("ea.embedding", "eb.embedding")}
                        / (ea.nrm * eb.nrm) * 1000000) AS BIGINT) AS qs
      FROM allp p
      LEFT JOIN sh sa ON sa.doc_id = p.doc_a
      LEFT JOIN sh sb ON sb.doc_id = p.doc_b
      JOIN bv ea ON ea.vec_id = p.doc_a
      JOIN bv eb ON eb.vec_id = p.doc_b
    )
    SELECT category,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(qj) AS DOUBLE) / (COUNT(*) * 10000), 4) AS avg_jacc,
           round(CAST(SUM(qs) AS DOUBLE) / (COUNT(*) * 1000000), 4) AS avg_cos
    FROM att GROUP BY category
    """
    )


@query("j138_lexical_semantic_agreement", oracle=_duck_lexsem_oracle())
def j138_lexical_semantic_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical vs semantic near-dup AGREEMENT — the audit that decides
    whether an embedding-dedup pass (j16/j43) adds anything over the
    MinHash banding (j48) everyone already runs: the two candidate
    generators' verified pair sets (lexical: banded md5-MinHash
    confirmed at exact Jaccard ≥ 0.5; semantic: LSH-bucket-blocked
    cosine ≥ 0.35, via the vec_id ≡ doc_id fixture convention j73's
    hybrid fusion established) are full-outer matched and every pair
    in the union gets BOTH measures recomputed — so the report reads:
    'both' = near-dups any method catches, 'lexical_only' = shared
    surface text with divergent embeddings (template/boilerplate
    families), 'semantic_only' = paraphrase-grade duplication ONLY the
    embedding space sees — the pairs that justify the semantic pass'
    GPU cost. avg_jacc/avg_cos per category quantify the separation.

    Exactness: Jaccard and cosine quantize to BIGINTs (floor(j·10⁴),
    floor(cos·10⁶)) before the per-category sums (j101's discipline);
    the cosine is the established sequential fold. Plan: reuses j48's
    banded pipeline and j16's bucket blocking (never all-pairs on
    either side); the full-outer merge and the four attach joins act
    on PAIR tables bounded by duplication density (≪ corpus — j73's
    category for the unbroadcastable full outer); per-category agg is
    3 rows. At 100 TB: the two dedup passes the pipeline already
    runs, plus pair-sized bookkeeping."""
    from json2hbase_spark.operators.similarity import l2_norm, lsh_bucket
    from json2hbase_spark.operators.similarity import dot as _dot
    from json2hbase_spark.plans.llm_queries import LSH_PLANES

    sh, cand = _md5_minhash_parts(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    vp = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(inter.cast("double") / union >= 0.5)
        .select("doc_a", "doc_b", F.lit(1).alias("_lex"))
    )
    emb = load(spark, sf_dir, "embeddings")
    bv = materialize(
        widen(emb).select(
            "vec_id",
            "embedding",
            lsh_bucket(F.col("embedding"), LSH_PLANES).alias("bucket"),
            l2_norm(F.col("embedding")).alias("nrm"),
        )
    )
    ea = bv.select(
        "bucket",
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    eb = bv.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    cos = _dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    sem = (
        ea.join(
            eb,
            (F.col("bucket") == F.col("bucket_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(cos >= 0.35)
        .select("doc_a", "doc_b", F.lit(1).alias("_sem"))
    )
    allp = vp.join(sem, ["doc_a", "doc_b"], "full")
    category = (
        F.when(F.col("_lex").isNotNull() & F.col("_sem").isNotNull(), F.lit("both"))
        .when(F.col("_lex").isNotNull(), F.lit("lexical_only"))
        .otherwise(F.lit("semantic_only"))
    )
    # shingle attach is LEFT (ADVICE r10): the shingle table exists
    # only for norm length >= 8, so a semantic_only pair touching a
    # shorter doc must survive with qj = 0 rather than vanish from the
    # report (mirrored LEFT JOIN + COALESCE in the oracle).
    att = (
        allp.select("doc_a", "doc_b", category.alias("category"))
        .join(sa, "doc_a", "left")
        .join(sb, "doc_b", "left")
        .join(
            bv.select(
                F.col("vec_id").alias("doc_a"),
                F.col("embedding").alias("e_a"),
                F.col("nrm").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            bv.select(
                F.col("vec_id").alias("doc_b"),
                F.col("embedding").alias("e_b"),
                F.col("nrm").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "category",
            F.coalesce(
                F.floor(inter.cast("double") / union * 10000), F.lit(0)
            )
            .cast("bigint")
            .alias("qj"),
            F.floor(cos * 1000000).cast("bigint").alias("qs"),
        )
    )
    return att.groupBy("category").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.sum("qj").cast("double") / (F.count("*") * 10000), 4).alias(
            "avg_jacc"
        ),
        F.round(F.sum("qs").cast("double") / (F.count("*") * 1000000), 4).alias(
            "avg_cos"
        ),
    )


# --------------------------------------------------------------- j141

BM25_SWEEP = [
    (0, 1.2, 0.75),  # cfg 0 = j60's defaults (the baseline ranking)
    (1, 0.9, 0.4),   # Elasticsearch-ish lighter saturation + length norm
    (2, 1.6, 0.75),  # heavier tf saturation
    (3, 1.2, 0.0),   # length normalization OFF
]


def _duck_bm25_sweep_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    cfg_rows = ", ".join(f"({c}, {k1}, {b})" for c, k1, b in BM25_SWEEP)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks
      WHERE t IN ({terms}) GROUP BY doc_id, t
    ),
    idf AS (
      SELECT t, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t), stats s
    ),
    cfgs AS (SELECT * FROM (VALUES {cfg_rows}) v(cfg, k1, b)),
    contrib AS (
      SELECT g.cfg, g.k1, g.b, tf.doc_id,
             round(idf.idf * (tf.tf * (g.k1 + 1.0))
                   / (tf.tf + g.k1 * (1.0 - g.b
                      + g.b * (CAST(dl.len AS DOUBLE) / s.avgdl))), 6) AS c
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN idf ON idf.t = tf.t, stats s, cfgs g
    ),
    scores AS (
      SELECT cfg, k1, b, doc_id,
             CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM contrib GROUP BY cfg, k1, b, doc_id
    ),
    ranked AS (
      SELECT cfg, k1, b, doc_id, rnk FROM (
        SELECT cfg, k1, b, doc_id,
               row_number() OVER (PARTITION BY cfg ORDER BY score DESC, doc_id)
                 AS rnk
        FROM scores) WHERE rnk <= {BM25_TOPK}
    ),
    base AS (SELECT doc_id, rnk AS rnk0 FROM ranked WHERE cfg = 0)
    SELECT r.cfg, r.k1, r.b,
           CAST(COUNT(b2.doc_id) AS BIGINT) AS n_overlap,
           CAST(COALESCE(SUM(abs(r.rnk - b2.rnk0)), 0) AS BIGINT) AS rank_shift
    FROM ranked r LEFT JOIN base b2 ON b2.doc_id = r.doc_id
    GROUP BY r.cfg, r.k1, r.b
    """


@query("j141_bm25_param_sweep", oracle=_duck_bm25_sweep_oracle())
def j141_bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 parameter-sensitivity sweep — j113/j126/j135's sweep
    posture on the RETRIEVAL axis j60 pins at one point: the same
    query scored under a (k1, b) grid (tf saturation × length
    normalization), each configuration's top-{BM25_TOPK} compared to
    the default ranking (cfg 0 ≡ j60): overlap@{BM25_TOPK} and the
    summed rank displacement of the shared docs. A corpus whose
    ranking barely moves across the grid doesn't need tuning; heavy
    movement under b=0 flags length-normalization sensitivity —
    exactly the evidence (not folklore) for freezing retrieval params
    before they leak into the training-data selection that a
    BM25-mined hard-negative / decontamination pass performs
    (j56/j73 consume these rankings).

    Exactness: j60's discipline — per-term contributions round to 6
    decimals then sum as DECIMAL(18,6) (order-free), idf's ln()
    inside the rounding; both rankings tie-break on doc_id. Plan:
    the corpus explode is filtered to query terms ON the map side
    (j60's shape); doc-length/avgdl/idf are computed ONCE,
    config-independent; the 4-row grid broadcasts into the
    contribution projection so all configs ride ONE scan; the
    per-config rank window's rank≤k filter is pre-reduced by partial
    WindowGroupLimit (the j56 pattern — top-k per partition crosses
    the wire, not the corpus); the compare joins act on 4×{BM25_TOPK}
    rows. At 100 TB: j60's cost, once, ×|grid| arithmetic."""
    docs = load(spark, sf_dir, "documents")
    toks = materialize(
        widen(docs).select(
            "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("t")
        )
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_tbl.crossJoin(F.broadcast(stats)).select(
        "t",
        F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    cfgs = spark.createDataFrame(BM25_SWEEP, "cfg int, k1 double, b double")
    contrib = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "t")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(cfgs))
        .select(
            "cfg",
            "k1",
            "b",
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * (F.col("k1") + 1.0))
                / (
                    F.col("tf")
                    + F.col("k1")
                    * (
                        1.0
                        - F.col("b")
                        + F.col("b") * (F.col("len").cast("double") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("c"),
        )
    )
    scores = contrib.groupBy("cfg", "k1", "b", "doc_id").agg(
        F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("score")
    )
    w = Window.partitionBy("cfg").orderBy(F.desc("score"), "doc_id")
    ranked = (
        scores.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOPK)
        .select("cfg", "k1", "b", "doc_id", "rnk")
    )
    ranked = materialize(ranked)
    base = ranked.filter(F.col("cfg") == 0).select(
        "doc_id", F.col("rnk").alias("rnk0")
    )
    return (
        ranked.join(F.broadcast(base), "doc_id", "left")
        .groupBy("cfg", "k1", "b")
        .agg(
            F.count("rnk0").cast("bigint").alias("n_overlap"),
            F.coalesce(F.sum(F.abs(F.col("rnk") - F.col("rnk0"))), F.lit(0))
            .cast("bigint")
            .alias("rank_shift"),
        )
    )


# ---------------------------------------------------------------- j146


def _duck_ppl_buckets_oracle() -> str:
    return f"""
    WITH toks AS ({_DUCK_TOKS}),
    bg AS (
      SELECT doc_id, lang, unnest({_duck_ngrams("w", 2)}) AS g
      FROM toks WHERE len(w) >= 2
    ),
    b2 AS (SELECT g, COUNT(*) AS c2 FROM bg GROUP BY g),
    b1 AS (SELECT split_part(g, ' ', 1) AS w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    vv AS (SELECT COUNT(DISTINCT split_part(g, ' ', 2)) AS v FROM bg),
    lm AS (
      SELECT bg.doc_id, bg.lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(avg(ln(CAST(b2.c2 + 1 AS DOUBLE) / (b1.c1 + vv.v))), 4)
               AS lm2_score
      FROM bg
      JOIN b2 ON b2.g = bg.g
      JOIN b1 ON b1.w1 = split_part(bg.g, ' ', 1), vv
      GROUP BY bg.doc_id, bg.lang
    ),
    per AS (
      SELECT lang, lm2_score, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(n_bigrams) AS BIGINT) AS nb
      FROM lm GROUP BY 1, 2
    ),
    cum AS (
      SELECT *, SUM(c) OVER (PARTITION BY lang ORDER BY lm2_score DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM per
    ),
    tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM lm GROUP BY lang),
    bucketed AS (
      SELECT cum.*,
             CASE WHEN 3 * (cum - c) < t.n THEN 'head'
                  WHEN 3 * (cum - c) < 2 * t.n THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM cum JOIN tot t USING (lang)
    )
    SELECT lang, bucket,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(CAST(lm2_score AS DECIMAL(18,4)) * 10000 AS BIGINT) * c)
                AS DOUBLE)
             / CAST(SUM(c) * 10000 AS DOUBLE) AS mean_lm2,
           min(lm2_score) AS min_lm2,
           max(lm2_score) AS max_lm2
    FROM bucketed GROUP BY lang, bucket
    """


@query("j146_perplexity_buckets", oracle=_duck_ppl_buckets_oracle())
def j146_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing — the famous head/middle/tail
    split (Wenzek et al. 2020): every doc scored by the corpus bigram
    LM (j44's add-one-smoothed avg log-prob — the perplexity proxy),
    then each LANGUAGE's docs cut into fluency terciles by score
    descending (head = most fluent third, the slice CCNet keeps
    outright; tail = the slice that needs a reason to survive). Per
    (lang, bucket): docs, bigram mass, mean/min/max score — the table
    that turns "filter by perplexity" into an auditable, per-language
    decision instead of one global threshold (a global cut starves
    low-resource languages; the per-lang tercile is CCNet's fix).

    Exactness: scores are j44's 4dp-rounded doubles; the tercile
    assignment is pure integer arithmetic on exact counts (a score
    GROUP is assigned by where its cumulative run starts:
    3·(cum−c) < n → head, < 2n → middle — ties share a score group so
    the cut is deterministic in both engines); the bucket mean is ONE
    IEEE division of exact integers (scores recovered to ×10⁴ BIGINTs
    through DECIMAL(18,4) — exact.py's int-ratio convention, chosen
    because a re-round of the double quotient sits on 4dp boundaries).
    Docs under 2 tokens have no bigram stream (j44's filter).

    Plan: j44's three hash aggs + two joins score the corpus; the
    tercile machinery then runs on the (lang, score)-DISTINCT domain
    — the cumulative window is partitioned BY LANG over score-domain
    rows (4dp-bounded, ≪ corpus — j50's value-domain category, never
    a doc-level sort); totals broadcast. At 100 TB the LM counts
    persist and new corpora score incrementally (j44's note); the
    bucket report costs two domain-sized aggs."""
    lm = j44_bigram_logprob(spark, sf_dir)
    per = lm.groupBy("lang", "lm2_score").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("n_bigrams").cast("bigint").alias("nb"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("lm2_score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # round 13: the per-lang total was a SECOND full consumption of lm
    # (tot = lm.groupBy(lang).count() re-ran j44's whole corpus chain —
    # three hash aggs + two joins — just to count docs). n = Σc over
    # the lang's score groups is the identical BIGINT (count of docs =
    # sum of score-group counts), computed as one more window over the
    # SAME lang partitioning the cumulative window already shuffled
    # for — no second corpus pass, no broadcast join (guide §2.4).
    cum = per.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("lang"))
    )
    bucket = (
        F.when(3 * (F.col("cum") - F.col("c")) < F.col("n"), F.lit("head"))
        .when(3 * (F.col("cum") - F.col("c")) < 2 * F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    b = cum.withColumn("bucket", bucket)
    return b.groupBy("lang", "bucket").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("n_bigrams"),
        # mean as ONE IEEE division of two exact ints (exact.py's
        # int-ratio convention — a round() of the double quotient sat
        # exactly on a 4dp boundary and split the engines by 1 ulp)
        (
            F.sum(
                (F.col("lm2_score").cast("decimal(18,4)") * 10000).cast("bigint")
                * F.col("c")
            ).cast("double")
            / (F.sum("c") * 10000).cast("double")
        ).alias("mean_lm2"),
        F.min("lm2_score").alias("min_lm2"),
        F.max("lm2_score").alias("max_lm2"),
    )


# ---------------------------------------------------------------- j152

EXSUB_W = 50  # Lee et al. 2022: duplicate substrings of >= 50 tokens
# canonical-occurrence key packs (doc_id, pos) into one BIGINT; sound
# while every document holds < 2^20 (~1M) tokens — a pack/shard bound
# the j27/j115 packing family already enforces upstream at 100 TB
_EXSUB_POSK = 1 << 20


@query(
    "j152_exact_substring_dedup",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(w, pos + 1, pos + {EXSUB_W}), ' ') AS g
      FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - {EXSUB_W - 1}, 0))) AS pos
            FROM toks)
    ),
    gstat AS (
      SELECT g, COUNT(*) AS cnt,
             MIN(doc_id * {_EXSUB_POSK} + pos) AS canon
      FROM grams GROUP BY g
    ),
    marked AS (
      SELECT gr.doc_id, gr.pos
      FROM grams gr JOIN gstat s USING (g)
      WHERE s.cnt >= 2 AND gr.doc_id * {_EXSUB_POSK} + gr.pos != s.canon
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + o.off AS idx
      FROM marked, (SELECT unnest(range(1, {EXSUB_W + 1})) AS off) o
    ),
    cov AS (SELECT doc_id, list(idx ORDER BY idx) AS cv
            FROM covered GROUP BY doc_id),
    clean AS (
      SELECT t.doc_id, len(t.w) AS n_tokens, cov.cv,
             list_filter(
               list_transform(range(1, len(t.w) + 1),
                 i -> CASE WHEN cov.cv IS NULL OR NOT list_contains(cov.cv, i)
                           THEN t.w[i] END),
               x -> x IS NOT NULL) AS cw
      FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(cw) AS BIGINT) AS n_removed,
           CAST(CASE WHEN cv IS NULL OR len(cv) = 0 THEN 0
                     WHEN len(cv) = 1 THEN 1
                     ELSE 1 + len(list_filter(
                            list_transform(range(2, len(cv) + 1),
                                           i -> cv[i] - cv[i - 1]),
                            d -> d > 1)) END AS BIGINT) AS n_dup_extents,
           md5(COALESCE(array_to_string(cw, ' '), '')) AS cleaned_md5
    FROM clean
    """,
)
def j152_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup at the token grain (Lee et al. 2022's
    ExactSubstr, VERDICT r11 #4) — the missing rung of the dedup
    grain ladder between j58's short shared spans (w=6, cross-doc
    only, drop ALL copies) and j53/j99's fingerprint diagnostics:
    any token {EXSUB_W}-gram occurring MORE THAN ONCE corpus-wide
    (within a document or across documents) is a duplicated extent,
    and every occurrence except the global canonical first — the
    minimum (doc_id, position) — is removed from the text, keeping
    exactly one copy of the duplicated material (the paper's
    keep-one semantics; j58 keeps zero). Overlapping duplicated
    grams merge into maximal extents: per doc the output reports the
    token count, tokens removed, the number of MAXIMAL removed
    extents (runs of covered positions), and the md5 of the cut text
    (j58/j54's cross-engine surgery check — one out-of-order or
    off-by-one token fails the gate).

    Exactness: the canonical occurrence is the minimum of the packed
    BIGINT doc_id·2^20+pos (identical total order both engines);
    removal is an order-preserving higher-order filter over the
    original token array; md5 over the space-joined survivors.

    Plan (j58's shape + a canonical twist): 50-grams posexplode
    map-side into xxhash64 keys (the gram STRING never shuffles —
    only an 8-byte key + position), one (key, doc) pre-agg keeping
    the position list, corpus-wide occurrence count and canonical
    min as window functions over the key (rows at this point are
    distinct (key, doc) pairs — the heavy duplication is already
    collapsed), non-canonical occurrences re-explode into per-doc
    covered-index sets, ONE order-preserving HOF filter re-emits the
    cut text. No pairwise stage, no sort of the corpus: the paper's
    suffix array is replaced by the fingerprint shuffle — O(n·L)
    8-byte keys, the same I/O class, embarrassingly parallel. At
    100 TB the only caveat is a boilerplate gram whose (key, doc)
    pre-agg rows skew one reducer — AQE skew-split handles it, and
    the pre-agg keeps per-row state to one position list per doc."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", whitespace_tokens(F.col("text")).alias("w")
    )
    grams = (
        toks.filter(F.size("w") >= EXSUB_W)
        .select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("w"), EXSUB_W)).alias("pos0", "g"),
        )
        .select("doc_id", "pos0", F.xxhash64("g").alias("gk"))
    )
    occ = grams.groupBy("gk", "doc_id").agg(
        F.collect_list("pos0").alias("ps"),
        F.min("pos0").alias("minp"),
    )
    wgk = Window.partitionBy("gk")
    stats = occ.withColumn("cnt", F.sum(F.size("ps")).over(wgk)).withColumn(
        "canon",
        F.min(F.col("doc_id") * _EXSUB_POSK + F.col("minp")).over(wgk),
    )
    marked = (
        stats.filter(F.col("cnt") >= 2)
        .select("doc_id", F.explode("ps").alias("pos0"), "canon")
        .filter(F.col("doc_id") * _EXSUB_POSK + F.col("pos0") != F.col("canon"))
        .select("doc_id", "pos0")
    )
    return _exsub_cut(toks, marked)


def _exsub_cut(toks: DataFrame, marked: DataFrame) -> DataFrame:
    """Shared ExactSubstr surgery (j152/j153): ``marked`` (doc_id,
    pos0) occurrence STARTS expand to 1-based covered token indices;
    one order-preserving HOF filter over the original token array
    re-emits the cut text with maximal-extent stats and the md5
    cross-engine check."""
    covered = (
        marked.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + EXSUB_W)
            ).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("cv"))
    )
    cleaned = F.filter(
        F.col("w"),
        lambda t, i: F.col("cv").isNull() | ~F.array_contains(F.col("cv"), i + 1),
    )
    scv = F.array_sort(F.col("cv"))
    breaks = F.size(
        F.filter(
            F.transform(
                F.sequence(F.lit(2), F.size("cv")),
                lambda i: F.element_at(scv, i) - F.element_at(scv, i - 1),
            ),
            lambda d: d > 1,
        )
    )
    n_ext = (
        F.when(F.col("cv").isNull() | (F.size("cv") == 0), F.lit(0))
        .when(F.size("cv") == 1, F.lit(1))
        .otherwise(breaks + 1)
    )
    return (
        toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            (F.size("w") - F.size(cleaned)).cast("bigint").alias("n_removed"),
            n_ext.cast("bigint").alias("n_dup_extents"),
            F.md5(F.encode(F.concat_ws(" ", cleaned), "UTF-8")).alias(
                "cleaned_md5"
            ),
        )
    )


# ---------------------------------------------------------------- j153


def _duck_exsub_tail(doc_filter: str) -> str:
    """Oracle tail shared by j152/j153: covered (doc_id, idx) rows →
    per-doc surgery + extent stats over docs matching ``doc_filter``."""
    return f"""
    cov AS (SELECT doc_id, list(idx ORDER BY idx) AS cv
            FROM covered GROUP BY doc_id),
    clean AS (
      SELECT t.doc_id, len(t.w) AS n_tokens, cov.cv,
             list_filter(
               list_transform(range(1, len(t.w) + 1),
                 i -> CASE WHEN cov.cv IS NULL OR NOT list_contains(cov.cv, i)
                           THEN t.w[i] END),
               x -> x IS NOT NULL) AS cw
      FROM (SELECT * FROM toks WHERE {doc_filter}) t
      LEFT JOIN cov ON cov.doc_id = t.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens - len(cw) AS BIGINT) AS n_removed,
           CAST(CASE WHEN cv IS NULL OR len(cv) = 0 THEN 0
                     WHEN len(cv) = 1 THEN 1
                     ELSE 1 + len(list_filter(
                            list_transform(range(2, len(cv) + 1),
                                           i -> cv[i] - cv[i - 1]),
                            d -> d > 1)) END AS BIGINT) AS n_dup_extents,
           md5(COALESCE(array_to_string(cw, ' '), '')) AS cleaned_md5
    FROM clean
    """


@query(
    "j153_incremental_exsub",
    oracle=f"""
    WITH toks AS ({_DUCK_TOKS}),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(w, pos + 1, pos + {EXSUB_W}), ' ') AS g
      FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - {EXSUB_W - 1}, 0))) AS pos
            FROM toks)
    ),
    cidx AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, pos, g FROM grams WHERE doc_id % 2 = 1),
    hitc AS (
      SELECT b.doc_id, b.pos FROM batch b JOIN cidx USING (g)
    ),
    miss AS (
      SELECT b.* FROM batch b ANTI JOIN cidx USING (g)
    ),
    mstat AS (
      SELECT g, COUNT(*) AS cnt,
             MIN(doc_id * {_EXSUB_POSK} + pos) AS canon
      FROM miss GROUP BY g
    ),
    mmark AS (
      SELECT m.doc_id, m.pos
      FROM miss m JOIN mstat s USING (g)
      WHERE s.cnt >= 2 AND m.doc_id * {_EXSUB_POSK} + m.pos != s.canon
    ),
    marked AS (SELECT * FROM hitc UNION ALL SELECT * FROM mmark),
    covered AS (
      SELECT DISTINCT doc_id, pos + o.off AS idx
      FROM marked, (SELECT unnest(range(1, {EXSUB_W + 1})) AS off) o
    ),
    {_duck_exsub_tail("doc_id % 2 = 1")}
    """,
)
def j153_incremental_exsub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact-substring dedup — j152's surgery in the
    batch-vs-corpus posture j24/j132 established (and VERDICT r11 #4's
    "scale shape already exists" pointer realized): the corpus (even
    doc_ids, already ingested) contributes only its PERSISTED distinct
    50-gram index; the incoming batch (odd doc_ids) is cut against
    (a) that index — any batch occurrence of a corpus gram is removed,
    the corpus copy is canonical by seniority — and (b) itself — grams
    ABSENT from the corpus but duplicated inside the batch keep their
    batch-canonical first occurrence (j152's min (doc_id, pos) rule
    applied to the batch slice). Output = j152's per-doc contract
    restricted to the new docs. This is what a crawler runs per
    ingest cycle: the corpus is never re-fingerprinted, and the index
    grows by exactly the batch's kept grams.

    Exactness: same packed-BIGINT canonical order, same HOF surgery,
    md5-verified cut text. Plan: ONE gram pass serves both slices at
    fixture scale (at 100 TB the corpus side is the persisted index —
    j132's reason to exist); the batch probes the index with one
    left-semi + one left-anti equi join on the 8-byte key (gram
    strings never shuffle), then j152's window machinery runs on the
    batch's MISS slice only — the corpus never enters a window."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", whitespace_tokens(F.col("text")).alias("w")
    )
    # round 13: the gram table was consumed THREE times (corpus-index
    # distinct, batch semi-probe, batch anti-probe) and the index
    # distinct TWICE (once per probe) — each re-ran the full
    # tokenize + posexplode + xxhash64 pass over the corpus. The
    # (doc_id, pos0, gk) table is 8-byte keys + ints (gram strings
    # never materialize either — guide §2.3), so one checkpoint of it
    # and one of the distinct index replace four re-tokenizations.
    grams = materialize(
        toks.filter(F.size("w") >= EXSUB_W)
        .select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("w"), EXSUB_W)).alias("pos0", "g"),
        )
        .select("doc_id", "pos0", F.xxhash64("g").alias("gk"))
    )
    cidx = materialize(
        grams.filter(F.col("doc_id") % 2 == 0).select("gk").distinct()
    )
    batch = grams.filter(F.col("doc_id") % 2 == 1)
    hitc = batch.join(cidx, "gk", "left_semi").select("doc_id", "pos0")
    miss = batch.join(cidx, "gk", "left_anti")
    occ = miss.groupBy("gk", "doc_id").agg(
        F.collect_list("pos0").alias("ps"),
        F.min("pos0").alias("minp"),
    )
    wgk = Window.partitionBy("gk")
    stats = occ.withColumn("cnt", F.sum(F.size("ps")).over(wgk)).withColumn(
        "canon",
        F.min(F.col("doc_id") * _EXSUB_POSK + F.col("minp")).over(wgk),
    )
    mmark = (
        stats.filter(F.col("cnt") >= 2)
        .select("doc_id", F.explode("ps").alias("pos0"), "canon")
        .filter(F.col("doc_id") * _EXSUB_POSK + F.col("pos0") != F.col("canon"))
        .select("doc_id", "pos0")
    )
    toks_new = toks.filter(F.col("doc_id") % 2 == 1)
    return _exsub_cut(toks_new, hitc.unionByName(mmark))


# ---------------------------------------------------------------- j155

NDCG_CUTS = (1, 3, 5, 10)
NDCG_REL_BIN = 2  # binary relevance (MRR / P@k) = >= 2 distinct terms
# exact graded gains 2^rel - 1 for rel = 0..|terms| (literal lookup, no
# float pow): rel = number of distinct query terms the doc contains
_NDCG_GAINS = [2**r - 1 for r in range(len(BM25_TERMS) + 1)]


def _duck_ndcg_oracle() -> str:
    gains = ", ".join(str(g) for g in _NDCG_GAINS)
    cuts = ", ".join(str(k) for k in NDCG_CUTS)
    return f"""
    WITH {_duck_bm25_ctes()},
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS pos
      FROM (SELECT * FROM sparse ORDER BY score DESC, doc_id LIMIT {BM25_TOPK})
    ),
    rel AS (SELECT doc_id, COUNT(DISTINCT t) AS rel FROM tf GROUP BY doc_id),
    rr AS (
      SELECT r.pos, COALESCE(rel.rel, 0) AS rel
      FROM ranked r LEFT JOIN rel ON rel.doc_id = r.doc_id
    ),
    ideal AS (
      SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS pos, rel
      FROM (SELECT * FROM rel ORDER BY rel DESC, doc_id LIMIT {BM25_TOPK})
    ),
    ks AS (SELECT unnest([{cuts}]) AS k),
    dcg AS (
      SELECT k,
             CAST(SUM(CASE WHEN rr.pos <= k THEN
               CAST(round(([{gains}])[rel + 1] / log2(rr.pos + 1.0), 6)
                    AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS dcg,
             CASE WHEN MIN(CASE WHEN rr.rel >= {NDCG_REL_BIN}
                                 AND rr.pos <= k THEN rr.pos END) IS NULL
                  THEN 0.0
                  ELSE round(1.0 / MIN(CASE WHEN rr.rel >= {NDCG_REL_BIN}
                                    AND rr.pos <= k THEN rr.pos END), 6)
             END AS mrr,
             CAST(SUM(CASE WHEN rr.rel >= {NDCG_REL_BIN} AND rr.pos <= k
                           THEN 1 ELSE 0 END) AS DOUBLE) / k AS p_at_k
      FROM ks, rr GROUP BY k
    ),
    idcg AS (
      SELECT k,
             CAST(SUM(CASE WHEN i.pos <= k THEN
               CAST(round(([{gains}])[rel + 1] / log2(i.pos + 1.0), 6)
                    AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS idcg
      FROM ks, ideal i GROUP BY k
    )
    SELECT CAST(d.k AS BIGINT) AS k, d.dcg, i.idcg,
           d.dcg / i.idcg AS ndcg, d.mrr, d.p_at_k
    FROM dcg d JOIN idcg i USING (k)
    """


@query("j155_retrieval_ndcg", oracle=_duck_ndcg_oracle())
def j155_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING-quality metrics for the BM25 searcher (round 12,
    Järvelin & Kekäläinen 2002's nDCG + classic MRR/P@k) — the eval
    harness j60's search and j73's fusion were missing: j33/j38/j130
    audit RECALL of approximate retrieval against an exact scan; this
    audits the RANKING itself against graded relevance. Relevance is
    deterministic from the corpus (rel(doc) = distinct query terms it
    contains, 0..{len(BM25_TERMS)}; binary relevance for MRR/P@k =
    ≥{NDCG_REL_BIN}); per cutoff k ∈ {NDCG_CUTS}: DCG@k with gains
    2^rel−1, the ideal DCG from the relevance-sorted corpus, their
    ratio (nDCG), the reciprocal best rank of a binary-relevant doc,
    and binary precision@k.

    Exactness: gains are literal integers (no float pow); each DCG
    term rounds once at 6dp and sums as DECIMAL(18,6) (j60's
    convention — order-free); nDCG is ONE IEEE division; MRR is one
    rounded reciprocal of an integer rank; P@k one exact int/int
    division. Plan: j60's scan + score (top-{BM25_TOPK} via
    TakeOrdered, never a global sort), relevance = a second term-
    filtered scan into a tiny agg (ideal ranking is another
    TakeOrdered over it); the metric math runs on ≤ {BM25_TOPK}×
    {len(NDCG_CUTS)} rows — constants at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    # round 13: ONE tokenize pass — the corpus was scanned + exploded
    # TWICE (once for the BM25 score table, once more for relevance);
    # the shared token table checkpoints once and both ride it, and
    # rel (consumed by the rank attach AND the ideal ranking)
    # checkpoints its small term-filtered agg instead of running the
    # corpus filter twice.
    toks = materialize(
        widen(docs).select(
            "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("t")
        )
    )
    w_rank = Window.orderBy(F.desc("score"), "doc_id")
    ranked = (
        bm25_scores(toks, pre_materialized=True)
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOPK)
        .select("doc_id", F.row_number().over(w_rank).alias("pos"))
    )
    rel = materialize(
        toks.filter(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("t").cast("int").alias("rel"))
    )
    rr = ranked.join(F.broadcast(rel), "doc_id", "left").select(
        "pos", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    w_ideal = Window.orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(BM25_TOPK)
        .select(F.row_number().over(w_ideal).alias("pos"), "rel")
    )
    ks = spark.createDataFrame([(k,) for k in NDCG_CUTS], "k int")
    gains = f"array({', '.join(str(g) for g in _NDCG_GAINS)})"
    gain_term = (
        f"CAST(round(element_at({gains}, rel + 1) / log2(pos + 1.0), 6)"
        f" AS DECIMAL(18,6))"
    )
    dcg = (
        ks.crossJoin(rr)
        .groupBy("k")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN pos <= k THEN {gain_term}"
                f" ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)"
            ).alias("dcg"),
            F.expr(
                f"CASE WHEN MIN(CASE WHEN rel >= {NDCG_REL_BIN} AND pos <= k"
                f" THEN pos END) IS NULL THEN 0.0D"
                f" ELSE round(1.0D / MIN(CASE WHEN rel >= {NDCG_REL_BIN}"
                f" AND pos <= k THEN pos END), 6) END"
            ).alias("mrr"),
            F.expr(
                f"CAST(SUM(CASE WHEN rel >= {NDCG_REL_BIN} AND pos <= k"
                f" THEN 1 ELSE 0 END) AS DOUBLE) / k"
            ).alias("p_at_k"),
        )
    )
    idcg = (
        ks.crossJoin(ideal)
        .groupBy("k")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN pos <= k THEN {gain_term}"
                f" ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)"
            ).alias("idcg")
        )
    )
    # both sides are |cuts|-row aggregates; broadcast explicitly — the
    # static plan can't size the crossJoin-backed agg and falls to SMJ
    return (
        dcg.join(F.broadcast(idcg), "k")
        .select(
            F.col("k").cast("bigint").alias("k"),
            "dcg",
            "idcg",
            (F.col("dcg") / F.col("idcg")).alias("ndcg"),
            "mrr",
            "p_at_k",
        )
    )


# ---------------------------------------------------------------- j158

PRF_FB_DOCS = 5   # pseudo-relevant docs taken from the base ranking
PRF_FB_TERMS = 3  # expansion terms added to the query


def _duck_prf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH {_duck_bm25_ctes()},
    base AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS pos_base
      FROM (SELECT * FROM sparse ORDER BY score DESC, doc_id LIMIT {BM25_TOPK})
    ),
    fb AS (SELECT doc_id FROM base WHERE pos_base <= {PRF_FB_DOCS}),
    cand AS (
      SELECT t, COUNT(*) AS tf_fb FROM toks JOIN fb USING (doc_id)
      WHERE t NOT IN ({terms}) GROUP BY t
    ),
    cdf AS (
      SELECT toks.t, COUNT(DISTINCT toks.doc_id) AS df
      FROM toks JOIN (SELECT t FROM cand) c ON c.t = toks.t
      GROUP BY toks.t
    ),
    wts AS (
      SELECT c.t,
             c.tf_fb * CAST(floor(ln(1.0 + (s.n_docs - d.df + 0.5)
                                       / (d.df + 0.5)) * 1000000)
                            AS BIGINT) AS w
      FROM cand c JOIN cdf d USING (t), stats s
    ),
    expt AS (SELECT t FROM wts ORDER BY w DESC, t LIMIT {PRF_FB_TERMS}),
    qterms AS (SELECT unnest([{terms}]) AS t UNION SELECT t FROM expt),
    tf2 AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks
      WHERE t IN (SELECT t FROM qterms) GROUP BY doc_id, t
    ),
    idf2 AS (
      SELECT t, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf2 GROUP BY t), stats s
    ),
    contrib2 AS (
      SELECT tf2.doc_id,
             round(idf2.idf * (tf2.tf * ({BM25_K1} + 1.0))
                   / (tf2.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * (CAST(dl.len AS DOUBLE) / s.avgdl))), 6)
               AS c
      FROM tf2
      JOIN dl ON dl.doc_id = tf2.doc_id
      JOIN idf2 ON idf2.t = tf2.t, stats s
    ),
    sparse2 AS (
      SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM contrib2 GROUP BY doc_id
    ),
    expd AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS pos_exp
      FROM (SELECT * FROM sparse2 ORDER BY score DESC, doc_id LIMIT {BM25_TOPK})
    )
    SELECT e.doc_id,
           CAST(e.pos_exp AS BIGINT) AS pos_exp,
           e.score AS score_exp,
           CAST(b.pos_base AS BIGINT) AS pos_base
    FROM expd e LEFT JOIN base b ON b.doc_id = e.doc_id
    """


@query("j158_prf_expansion", oracle=_duck_prf_oracle())
def j158_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK query expansion (round 12, Rocchio
    1971 / classic PRF) — the retrieval-family loop-closer: take
    j60's base BM25 ranking, assume the top {PRF_FB_DOCS} docs are
    relevant, mine them for the {PRF_FB_TERMS} strongest expansion
    terms (Rocchio weight = feedback term frequency × quantized
    corpus idf — the centroid-of-relevant-docs direction, in exact
    integers: tf_fb · ⌊ln-idf·10⁶⌋, ties to the lexicographically
    first term), append them to the query, and RE-RANK the corpus
    under the expanded query with the identical BM25 discipline. The
    output is the expanded top-{BM25_TOPK} with each doc's base rank
    attached (NULL = surfaced only through expansion — the recall
    PRF exists to buy; j155 prices the trade on the ranking side).

    Exactness: expansion selection is pure-integer (quantized idf
    weights, deterministic ties); the re-scoring reuses j60's
    6dp-round + DECIMAL(18,6) order-free sum convention; rank
    windows follow j73's LIMIT→row_number shape. Plan: the base
    chain is j60's (term-filtered scans, TakeOrdered top-k); the
    feedback mine is ONE corpus-scan join against a {PRF_FB_DOCS}-row
    broadcast + a candidate-bounded df agg; the re-rank joins the
    corpus explode against a ≤{len(BM25_TERMS) + PRF_FB_TERMS}-row
    broadcast term table instead of a literal IN — same shuffle
    class, data-driven query. At 100 TB: three term-filtered scans,
    no pair stage, every small side broadcast."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("t")
    )
    toks = materialize(toks)
    # round 13: dl is consumed THREE times (stats, base contrib,
    # re-rank contrib) and each consumption re-ran the full-corpus
    # doc-length agg over the token table — materialize the n_docs-row
    # result once; stats and both contribs read it back
    dl = materialize(toks.groupBy("doc_id").agg(F.count("*").alias("len")))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avgdl"),
    )

    def rank_topk(scores, pos_name):
        w = Window.orderBy(F.desc("score"), "doc_id")
        return (
            scores.orderBy(F.desc("score"), "doc_id")
            .limit(BM25_TOPK)
            .select(
                "doc_id", "score", F.row_number().over(w).alias(pos_name)
            )
        )

    def score_terms(term_df):
        """j60's scoring with the query as DATA (broadcast join
        instead of a literal IN) — same rounding discipline."""
        tf = toks.join(F.broadcast(term_df), "t").groupBy("doc_id", "t").agg(
            F.count("*").alias("tf")
        )
        df_tbl = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
        idf = df_tbl.crossJoin(F.broadcast(stats)).select(
            "t",
            F.log(
                1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
        contrib = (
            tf.join(dl, "doc_id")
            .join(F.broadcast(idf), "t")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                F.round(
                    F.col("idf")
                    * (F.col("tf") * (BM25_K1 + 1.0))
                    / (
                        F.col("tf")
                        + BM25_K1
                        * (
                            1.0
                            - BM25_B
                            + BM25_B
                            * (F.col("len").cast("double") / F.col("avgdl"))
                        )
                    ),
                    6,
                ).alias("c"),
            )
        )
        return contrib.groupBy("doc_id").agg(
            F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("score")
        )

    base_terms = spark.createDataFrame([(t,) for t in BM25_TERMS], "t string")
    # round 13: base is consumed twice (feedback-doc pick + the final
    # rank attach) — unmaterialized, the whole base BM25 chain ran
    # twice; the BM25_TOPK-row result checkpoints instead. Same for
    # cand (feedback mine + its own df probe).
    base = materialize(rank_topk(score_terms(base_terms), "pos_base"))
    fb = base.filter(F.col("pos_base") <= PRF_FB_DOCS).select("doc_id")
    cand = materialize(
        toks.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("t").isin(*BM25_TERMS))
        .groupBy("t")
        .agg(F.count("*").alias("tf_fb"))
    )
    cdf = (
        toks.join(F.broadcast(cand.select("t")), "t")
        .groupBy("t")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    wts = (
        cand.join(cdf, "t")
        .crossJoin(F.broadcast(stats))
        .select(
            "t",
            (
                F.col("tf_fb")
                * F.floor(
                    F.log(
                        1.0
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * 1000000
                ).cast("bigint")
            ).alias("w"),
        )
    )
    expt = wts.orderBy(F.desc("w"), "t").limit(PRF_FB_TERMS).select("t")
    qterms = base_terms.unionByName(expt).distinct()
    expd = rank_topk(score_terms(qterms), "pos_exp")
    return (
        expd.join(F.broadcast(base.select("doc_id", "pos_base")), "doc_id", "left")
        .select(
            "doc_id",
            F.col("pos_exp").cast("bigint").alias("pos_exp"),
            F.col("score").alias("score_exp"),
            F.col("pos_base").cast("bigint").alias("pos_base"),
        )
    )
