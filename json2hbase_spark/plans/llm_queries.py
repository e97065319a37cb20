"""J-ops: LLM training-data pipeline queries (SURVEY.md §2 J1–J10 +
langid/quality/fingerprint extensions + multimodal plumbing).

Float conventions (see functions/exact.py): vector dot products /
norms use sequential folds expressed identically in both engines → no
rounding; centroid averages use the quantized-integer QCENT_AVG form
(order-free AND engine-exact — round(avg) flips at the boundaries
mean-zero data clusters on); remaining order-dependent aggregates
(tf-idf's log, quality score's log) round to 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark.functions.exact import QCENT_AVG
from json2hbase_spark.io import load, widen
from json2hbase_spark.materialize import materialize
from json2hbase_spark.operators import multimodal
from json2hbase_spark.operators.dedup import (
    block_pairs,
    block_shingles,
    char_shingles,
    jaccard,
    lsh_bands,
    minhash_from_stream,
    near_dup_pairs,
    normalize_text,
    shingle_stream,
    simhash_near_pairs,
)
from json2hbase_spark.operators.scaling import seeded_planes
from json2hbase_spark.operators.similarity import (
    ann_topk_ivf,
    ann_topk_lsh,
    cosine,
    cosine_topk,
    l2_norm,
    lsh_bucket,
    norm2,
)
from json2hbase_spark.operators.text import (
    bpe_ish_tokens,
    fingerprint,
    langid_train_classify,
    quality_features,
    tf_idf,
    token_counts,
    whitespace_tokens,
)
from json2hbase_spark.registry import query

# DuckDB twins of the sequential-fold vector math (bit-identical to
# zip_with/aggregate: per-element double products, left-fold sum)
def _duck_dot(a: str, b: str) -> str:
    return f"list_aggregate(list_transform(range(1,65), i -> CAST({a}[i] AS DOUBLE) * {b}[i]), 'sum')"


def _duck_norm(a: str) -> str:
    return f"sqrt({_duck_dot(a, a)})"


DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len({t}) - 7, 0) + 1),"
    " i -> substr({t}, i, 8)))"
)




# ---------------------------------------------------------------- j1


@query(
    "j1_dedup_exact",
    oracle="""
    WITH normed AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    kept AS (
      SELECT lang, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
      FROM normed
    )
    SELECT lang,
           COUNT(*) FILTER (rn = 1) AS n_kept,
           COUNT(*) AS n_docs
    FROM kept
    GROUP BY lang
    """,
)
def j1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: keep the lowest doc_id per
    normalized form (hash-partitioned window — one shuffle)."""
    docs = load(spark, sf_dir, "documents")
    normed = docs.select("doc_id", "lang", normalize_text(F.col("text")).alias("norm"))
    w = Window.partitionBy("norm").orderBy("doc_id")
    kept = normed.withColumn("rn", F.row_number().over(w))
    return kept.groupBy("lang").agg(
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------- j2 / j9


@query("j2_dedup_near")  # rows-only: xxhash64-based MinHash is Spark-specific
def j2_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup mining: shingle → MinHash(64) → LSH(16 bands × 4 rows)
    → candidate join → exact-Jaccard verification (operators/dedup.py).
    Fixture plants 22 near-dup prefixes at sf0.01 → must find pairs."""
    docs = load(spark, sf_dir, "documents")
    return near_dup_pairs(docs, "doc_id", "text", threshold=0.3).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard_r")
    )


@query(
    "j2v_jaccard_verify",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS (
      SELECT doc_id, substr(norm, 1, 40) AS block,
             {DUCK_SHINGLES.format(t="norm")} AS shingles
      FROM normed WHERE len(norm) >= 8
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
             AS jaccard
    FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
          >= 0.3
    """,
)
def j2v_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable exact near-dup step: block on the normalized
    60-char-prefix family (first 40 chars), compute exact shingle
    Jaccard within blocks — validates the verification stage of j2
    against DuckDB list algebra. The kernel is ``dedup.block_shingles``
    + ``dedup.block_pairs``, which every blocked exact-Jaccard query
    shares."""
    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select("doc_id", normalize_text(F.col("text")).alias("norm"))
    return block_pairs(block_shingles(normed), 0.3)


@query("j9_minhash_sig")  # rows-only: xxhash64 signatures are Spark-specific
def j9_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reusable MinHash signature column (array<bigint>, persisted for
    incremental dedup); surfaced here as per-doc signature stats."""
    docs = load(spark, sf_dir, "documents")
    stream = shingle_stream(docs, "doc_id", "text", 8)
    sigs = minhash_from_stream(stream, "doc_id").withColumn("bands", lsh_bands("sig"))
    return sigs.select(
        "doc_id",
        F.size("sig").alias("sig_len"),
        F.element_at("sig", 1).alias("sig0"),
        F.size("bands").alias("n_bands"),
    )


# ---------------------------------------------------------------- j3/j4/j5/j10


@query(
    "j3_sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    s AS (
      SELECT qid, cid,
             {_duck_dot("qe", "ce")} / ({_duck_norm("qe")} * {_duck_norm("ce")}) AS sim
      FROM c, q WHERE qid != cid
    )
    SELECT qid, cid, sim, rank FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def j3_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors: broadcast
    queries × candidate scan, native zip_with/aggregate dot products
    (bit-identical to the oracle's sequential list fold — no rounding)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    candidates = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return cosine_topk(queries, candidates, k=5)


@query(
    "j4_knn_label",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, embedding AS ce, label FROM embeddings),
    s AS (
      SELECT qid, cid, label,
             {_duck_dot("qe", "ce")} / ({_duck_norm("qe")} * {_duck_norm("ce")}) AS sim
      FROM c, q WHERE qid != cid
    ),
    topk AS (
      SELECT qid, label FROM (
        SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS r
        FROM s
      ) WHERE r <= 5
    ),
    votes AS (SELECT qid, label, COUNT(*) AS n FROM topk GROUP BY 1, 2)
    SELECT qid, label AS pred_label, n AS votes FROM (
      SELECT qid, label, n, row_number() OVER (PARTITION BY qid ORDER BY n DESC, label) AS r
      FROM votes
    ) WHERE r = 1
    """,
)
def j4_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification on top of j3 (deterministic
    tie-break: highest count, then smallest label)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    candidates = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    topk = cosine_topk(queries, candidates, k=5)
    labels = emb.select(F.col("vec_id").alias("cid"), "label")
    votes = (
        topk.join(F.broadcast(labels), "cid")
        .groupBy("qid", "label")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("n"), F.asc("label"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("qid", F.col("label").alias("pred_label"), F.col("n").alias("votes"))
    )


@query(
    "j5_centroid",
    oracle=f"""
    SELECT label, i.i AS pos,
           {QCENT_AVG.format(v="embedding[i.i + 1]")} AS centroid_val
    FROM embeddings, (SELECT unnest(range(64)) AS i) i
    GROUP BY 1, 2
    """,
)
def j5_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of 64-dim embeddings via posexplode — the
    long-format path (no per-row Python, scales as one hash agg).

    Quantized-integer average (see QCENT_AVG): a float avg needs a
    round() to be order-stable, but mean-zero embedding averages
    CLUSTER near rounding boundaries where Spark's binary-HALF_UP and
    DuckDB's repr rounding flip (observed at sf0.001: -0.0001 vs
    -0.0); even a double→DECIMAL cast ties the same way (observed
    1-ulp sum divergence at sf0.01). floor(val·1e6 + 0.5) is pure
    IEEE double + integer arithmetic — bit-identical in any engine
    and any order, at 1e-6 input quantization (a centroid is a
    quantizer; the loss is epsilon against the cluster radius)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.expr(QCENT_AVG.format(v="val")).alias("centroid_val"))
    )


@query(
    "j10_embed_norm",
    oracle=f"""
    SELECT vec_id,
           {_duck_norm("embedding")} AS norm,
           CAST(embedding[1] AS DOUBLE) / {_duck_norm("embedding")} AS e0_normed
    FROM embeddings
    """,
)
def j10_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (prereq for dot-product-only similarity at
    scale); norms bit-match the oracle's sequential fold."""
    emb = load(spark, sf_dir, "embeddings")
    n = l2_norm(F.col("embedding"))
    return emb.select(
        "vec_id",
        n.alias("norm"),
        (F.element_at("embedding", 1).cast("double") / n).alias("e0_normed"),
    )


# ---------------------------------------------------------------- j6/j7/j8


@query(
    "j6_text_tokens",
    oracle="""
    SELECT token, n FROM (
      SELECT token, COUNT(*) AS n
      FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
        FROM documents
      )
      GROUP BY token
    )
    ORDER BY n DESC, token
    LIMIT 100
    """,
)
def j6_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global term counts, top-100 (explode → partial+final hash agg →
    TakeOrdered)."""
    docs = load(spark, sf_dir, "documents")
    return token_counts(docs, "text").orderBy(F.desc("n"), F.asc("token")).limit(100)


@query(
    "j7_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           round(tf * (ln((n.n_docs + 1.0) / (df + 1)) + 1.0), 4) AS tfidf_r
    FROM tf JOIN dfreq USING (term), n
    WHERE doc_id < 50
    """,
)
def j7_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smooth tf-idf per (doc, term); df side is a broadcastable
    aggregate, tf side shuffles once on (doc, term)."""
    docs = load(spark, sf_dir, "documents")
    out = tf_idf(docs, "doc_id", "text")
    return out.filter(F.col("doc_id") < 50).select(
        "doc_id", "term", "tf", "df", F.round("tfidf", 4).alias("tfidf_r")
    )


@query(
    "j8_text_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           round(stddev_samp(n_chars), 4) AS sd_chars,
           CAST(SUM(CASE WHEN n_chars = len(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_valid
    FROM documents
    GROUP BY 1, 2
    """,
)
def j8_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling per (lang, source) incl. metadata validation
    (n_chars == length(text))."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.stddev_samp("n_chars"), 4).alias("sd_chars"),
        F.sum(
            F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
        ).alias("n_len_valid"),
    )


# ---------------------------------------------------------------- langid / quality / fingerprint


@query(
    "j11_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      FROM documents
    ),
    freq AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    top AS (
      SELECT lang AS cand_lang, token FROM (
        SELECT lang, token, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS r
        FROM freq
      ) WHERE r <= 20
    ),
    doc_tokens AS (SELECT DISTINCT doc_id, token FROM toks),
    votes AS (
      SELECT doc_id, cand_lang, COUNT(*) AS hits
      FROM doc_tokens JOIN top USING (token)
      GROUP BY 1, 2
    )
    SELECT doc_id, cand_lang AS pred_lang, hits FROM (
      SELECT doc_id, cand_lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS r
      FROM votes
    ) WHERE r = 1
    """,
)
def j11_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: corpus-trained top-20-token vote (see
    operators/text.py) — a self-contained n-gram-style classifier."""
    docs = load(spark, sf_dir, "documents")
    return langid_train_classify(docs, "doc_id", "text", "lang", top_n=20)


@query(
    "j12_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             len(text) AS n_chars,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
             CAST(COALESCE(list_aggregate(list_transform(list_filter(string_split(text, ' '), x -> x != ''),
                  t -> len(t)), 'sum'), 0) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1) AS avg_token_len,
             CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                  t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))
                  AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1) AS stopword_ratio,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / greatest(len(text), 1) AS digit_ratio
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, digit_ratio,
           round(ln(1 + n_tokens) * (1.0 - digit_ratio) * (0.5 + stopword_ratio), 4) AS quality
    FROM f
    """,
)
def j12_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring from native text features (length,
    token shape, stopword density, digit density)."""
    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    n_tok = F.greatest(feats["n_tokens"], F.lit(1))
    toks = whitespace_tokens(F.col("text"))
    avg_tok = (
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_tok
    )
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
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        quality.alias("quality"),
    )


@query(
    "j13_fingerprint",
    oracle="""
    WITH normed AS (
      SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id, lang,
           list_min(list_transform(
             list_distinct(list_transform(range(1, greatest(len(norm) - 7, 0) + 1),
                                          i -> substr(norm, i, 8))),
             s -> md5(s))) AS fp
    FROM normed
    WHERE len(norm) >= 8
    """,
)
def j13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint (min md5 over 8-gram shingles) —
    a cheap stable blocking key for incremental dedup."""
    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select("doc_id", "lang", normalize_text(F.col("text")).alias("norm")).filter(
        F.length("norm") >= 8
    )
    # explode + min-aggregate (map-side combine) instead of the
    # array_min expression — same result, one shingle materialization
    exploded = normed.select(
        "doc_id", "lang", F.explode(char_shingles(F.col("norm"), 8)).alias("s")
    )
    return exploded.groupBy("doc_id", "lang").agg(F.min(F.md5("s")).alias("fp"))


# ---------------------------------------------------------------- j14–j18


BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@query(
    "j14_token_count",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '{BPE_RE}')) AS token
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT token) AS n_distinct,
           COUNT(DISTINCT doc_id) AS n_docs,
           round(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 4) AS tokens_per_doc
    FROM toks
    GROUP BY lang
    """,
)
def j14_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting per language: regex tokenizer (letter
    runs / digit runs / single punctuation glyphs — the GPT-2 pretoken
    shape without the merges table) → explode → one hash agg."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("token")
    )
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.count("*").cast("double") / F.countDistinct("doc_id"), 4).alias(
            "tokens_per_doc"
        ),
    )


@query("j15_simhash")  # rows-only: xxhash64 bit votes are Spark-specific
def j15_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup mining: per-doc 64-bit sign-vote fingerprint
    (operators/dedup.py simhash_agg), 16-bit band blocking, exact
    Hamming verification via bit_count(xor). Complements MinHash: one
    BIGINT per doc instead of a 64-element signature."""
    docs = load(spark, sf_dir, "documents")
    # widen BEFORE tokenizing: a repartition after the projection would
    # still tokenize on the scan's (single, locally) partition
    toks = widen(docs).select(
        "doc_id", bpe_ish_tokens(normalize_text(F.col("text"))).alias("toks")
    ).filter(F.size("toks") > 0)
    return simhash_near_pairs(toks, "doc_id", "toks")


# deterministic random-hyperplane set for j18 (plan-time constants;
# seeded so Spark literals and the SQL literals below are identical)
LSH_PLANES = seeded_planes(6)


def _duck_bucket(col: str) -> str:
    terms = []
    for i, plane in enumerate(LSH_PLANES):
        lit = "([" + ",".join(repr(v) for v in plane) + "])"
        terms.append(f"(CASE WHEN {_duck_dot(col, lit)} >= 0 THEN {2 ** i} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "j16_dedup_embed",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket,
             {_duck_norm("embedding")} AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket,
             {_duck_dot("a.embedding", "b2.embedding")} / (a.nrm * b2.nrm) AS sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT vec_a, vec_b, bucket, sim FROM pairs WHERE sim >= 0.35
    """,
)
def j16_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on the random-hyperplane
    LSH bucket (6 seeded planes → 64 buckets, the same quantizer j18's
    ANN uses): only same-bucket vectors meet in the self-join, so the
    pair count is O(n²/2^planes) instead of all-pairs — the blocking
    key a 100 TB dedup actually shards on. This registered variant
    PINS the 6-plane LSH_PLANES for oracle parity (the bucket literals
    are identical constants in both engines, so the blocking AND the
    sequential-fold cosine hash-match exactly); the deployable API is
    ``dedup_embed_plan`` below, whose default plane count is the
    volume-adaptive dial (operators/scaling.auto_lsh_planes: +2 planes
    per ×4 volume keeps the pair budget linear — tripwired in
    tests/test_scale_tripwire.py)."""
    emb = load(spark, sf_dir, "embeddings")
    return dedup_embed_plan(emb, planes=LSH_PLANES)


def dedup_embed_plan(
    emb: DataFrame,
    planes: list[list[float]] | None = None,
    tau: float = 0.35,
) -> DataFrame:
    """LSH-blocked embedding near-dup with the bucket dial as a real
    parameter: ``planes=None`` counts the corpus (footer read at
    scale) and draws ⌈log₂(n/TARGET_BUCKET)⌉ seeded hyperplanes via
    auto_lsh_planes/seeded_planes, so expected same-bucket pairs stay
    ≈ n·TARGET_BUCKET/2 — linear in n, vs the ×16-per-×4 envelope of
    a fixed plane count. NOTE: ``planes=None`` triggers an eager
    ``emb.count()`` action at plan-construction time (cheap for a
    parquet scan — footer metadata — but a full pass for an expensive
    upstream plan); callers with non-trivial inputs should pass
    ``planes`` (or count once themselves via table metadata).
    Returns (vec_a, vec_b, bucket, sim ≥ tau)."""
    if planes is None:
        from json2hbase_spark.operators.scaling import auto_lsh_planes

        planes = seeded_planes(auto_lsh_planes(emb.count()))
    # bucket + norm hoisted out of the pair join: computed once per
    # vector (O(n) folds) instead of once per candidate pair; the
    # bucketed table is materialized so the self-join's two sides share
    # one quantization pass (HOF plans defeat ReuseExchange)
    bucketed = emb.select(
        "vec_id",
        "embedding",
        lsh_bucket("embedding", planes).alias("bucket"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    bucketed = materialize(bucketed)
    a = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = bucketed.select(
        F.col("bucket").alias("bucket_b"), F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    from json2hbase_spark.operators.similarity import dot as _dot

    sim = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "bucket", sim.alias("sim"))
        .filter(F.col("sim") >= tau)
    )


@query(
    "j17_ann_ivf",
    oracle=f"""
    WITH cent_long AS (
      SELECT label, i.i AS pos,
             {QCENT_AVG.format(v="embedding[i.i + 1]")} AS cv
      FROM embeddings, (SELECT unnest(range(64)) AS i) i
      GROUP BY 1, 2
    ),
    cent AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cent_long GROUP BY label),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    qc AS (
      SELECT qid, qe, label,
             {_duck_dot("qe", "centroid")} / ({_duck_norm("qe")} * {_duck_norm("centroid")}) AS csim
      FROM q, cent
    ),
    assigned AS (
      SELECT qid, qe, label FROM (
        SELECT qid, qe, label,
               row_number() OVER (PARTITION BY qid ORDER BY csim DESC, label) AS pr
        FROM qc
      ) WHERE pr <= 1
    ),
    s AS (
      SELECT a.qid, e.vec_id AS cid,
             {_duck_dot("a.qe", "e.embedding")}
               / ({_duck_norm("a.qe")} * {_duck_norm("e.embedding")}) AS sim
      FROM embeddings e JOIN assigned a ON e.label = a.label AND e.vec_id != a.qid
    )
    SELECT qid, cid, sim, rank FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
      FROM s
    ) WHERE rank <= 3
    """,
)
def j17_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-label centroids as the coarse quantizer
    (quantized-integer average — bit-identical in both engines, so
    assignment is deterministic; see operators/similarity.py),
    nprobe=1, exact top-3 within the probed partition. The scale story:
    each query scans 1/n_lists of the corpus instead of all of it."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ann_topk_ivf(queries, emb, k=3, nprobe=1)


@query(
    "j18_ann_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 10),
    s AS (
      SELECT q.qid, c.vec_id AS cid,
             {_duck_dot("q.qe", "c.embedding")}
               / ({_duck_norm("q.qe")} * {_duck_norm("c.embedding")}) AS sim
      FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.qid
    )
    SELECT qid, cid, sim, rank FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
      FROM s
    ) WHERE rank <= 3
    """,
)
def j18_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 6 seeded planes → 64 sign buckets;
    only same-bucket candidates are scored (O(n/2^planes) per query).
    Plane literals are identical constants in both engines, so the
    bucket assignment and sims hash-match exactly."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    candidates = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return ann_topk_lsh(queries, candidates, k=3, planes=LSH_PLANES)


# ---------------------------------------------------------------- multimodal


@query(
    "m1_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           substr(hex(encode(text)), 1, 16) AS header_hex,
           octet_length(CAST(text AS BLOB)) % 640 AS fake_width,
           octet_length(CAST(text AS BLOB)) % 480 AS fake_height
    FROM documents
    """,
)
def m1_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary assets → Arrow-batched
    mapInPandas metadata extraction (codec itself stubbed; see
    operators/multimodal.py for the partition-sizing contract)."""
    docs = load(spark, sf_dir, "documents")
    assets = multimodal.binary_assets_from_documents(docs)
    return multimodal.extract_metadata(assets)


@query(
    "m2_frame_sample",
    oracle="""
    SELECT doc_id, unnest(range(0, greatest(octet_length(CAST(text AS BLOB)) % 100 - 1, 0) + 1, 10))
             AS frame_idx
    FROM documents
    """,
)
def m2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: one row per sampled frame index — the
    explode pattern that turns per-video work into per-frame tasks."""
    docs = load(spark, sf_dir, "documents")
    assets = multimodal.binary_assets_from_documents(docs)
    return multimodal.frame_sample_plan(assets, every_n=10)


# ---------------------------------------------------------------- j19

# per-language mixture rates (plan-time constants; a real pipeline
# derives these from a target token budget per source)
MIXTURE_RATES = {"en": 0.9, "es": 0.6, "zh": 0.5, "de": 0.3, "fr": 0.2}


def _hex_threshold(rate: float) -> str:
    """First-4-hex-chars md5 threshold for a sampling rate (16-bit
    resolution, identical literal in Spark and DuckDB)."""
    return format(int(rate * 65536), "04x")


@query(
    "j19_mixture_sample",
    oracle=f"""
    WITH sampled AS (
      SELECT lang, doc_id
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
            CASE lang {' '.join(f"WHEN '{l}' THEN '{_hex_threshold(r)}'" for l, r in MIXTURE_RATES.items())} ELSE '0000' END
    )
    SELECT d.lang,
           COUNT(*) AS n_total,
           COUNT(s.doc_id) AS n_sampled,
           round(CAST(COUNT(s.doc_id) AS DOUBLE) / COUNT(*), 4) AS realized_rate
    FROM documents d LEFT JOIN sampled s ON d.doc_id = s.doc_id
    GROUP BY d.lang
    """,
)
def j19_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: each language sampled at its own rate
    via a content-addressed hash threshold (md5 16-bit prefix), so the
    mixture is reproducible across runs/engines/partitionings and needs
    no shuffle — one scan, one filter, one agg. At 100 TB this replaces
    df.sample's RNG (partition-order dependent) for curriculum mixing."""
    docs = load(spark, sf_dir, "documents")
    thr = F.lit("0000")
    for lang, rate in MIXTURE_RATES.items():
        thr = F.when(F.col("lang") == lang, F.lit(_hex_threshold(rate))).otherwise(thr)
    picked = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < thr
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(picked, 1)).alias("n_sampled"),
        F.round(
            F.count(F.when(picked, 1)).cast("double") / F.count("*"), 4
        ).alias("realized_rate"),
    )


# ---------------------------------------------------------------- j22/j23

# PII patterns shared verbatim by both engines (kept to the regex
# subset Java and RE2 agree on: no backrefs, no lookaround)
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PII_URL = "https?://[^ ]+"
PII_DIGITRUN = "[0-9][0-9][0-9][0-9][0-9]+"


@query(
    "j22_pii_scan",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '{PII_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(lower(text), '{PII_URL}'))) AS BIGINT) AS n_urls,
           CAST(SUM(len(regexp_extract_all(lower(text), '{PII_DIGITRUN}'))) AS BIGINT) AS n_digitruns,
           CAST(SUM(len(text) - len(regexp_replace(lower(text), '{PII_DIGITRUN}', '<NUM>', 'g'))
                    + 5 * len(regexp_extract_all(lower(text), '{PII_DIGITRUN}'))) AS BIGINT)
             AS redaction_delta
    FROM documents
    GROUP BY lang
    """,
)
def j22_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction accounting per language: emails, URLs and
    long digit runs counted with engine-portable regexes; the
    redaction_delta column proves the regexp_replace('<NUM>') pass
    agrees byte-for-byte across engines. One scan, one hash agg —
    the shape a 100 TB compliance sweep needs."""
    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    n_email = F.size(F.regexp_extract_all(low, F.lit(PII_EMAIL), 0))
    n_url = F.size(F.regexp_extract_all(low, F.lit(PII_URL), 0))
    n_dig = F.size(F.regexp_extract_all(low, F.lit(PII_DIGITRUN), 0))
    redacted = F.regexp_replace(low, PII_DIGITRUN, "<NUM>")
    delta = F.length("text") - F.length(redacted) + 5 * n_dig
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_email).cast("bigint").alias("n_emails"),
        F.sum(n_url).cast("bigint").alias("n_urls"),
        F.sum(n_dig).cast("bigint").alias("n_digitruns"),
        F.sum(delta).cast("bigint").alias("redaction_delta"),
    )


@query(
    "j23_decontaminate",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(range(1, greatest(len(norm) - 31, 0) + 1),
                                                 i -> substr(norm, i, 32)))) AS g
      FROM normed WHERE len(norm) >= 32
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
    flagged AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE doc_id >= 10 AND g IN (SELECT g FROM bench)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (doc_id IN (SELECT doc_id FROM flagged)) AS BIGINT)
             AS n_contaminated
    FROM normed
    WHERE doc_id >= 10 AND len(norm) >= 32
    GROUP BY lang
    """,
)
def j23_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any 32-char
    gram with the eval set (doc_id < 10 stands in for the benchmark) —
    long grams, the standard guard against incidental phrase overlap
    (8-grams flagged 100% of this synthetic corpus). The
    eval gram set is tiny → broadcast semi-join against the exploded
    corpus grams; at 100 TB the corpus side stays a streaming scan
    with map-side dedup, no shuffle of the big side."""
    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select(
        "doc_id", "lang", normalize_text(F.col("text")).alias("norm")
    ).filter(F.length("norm") >= 32)
    grams = normed.select(
        "doc_id", F.explode(char_shingles(F.col("norm"), 32)).alias("g")
    )
    bench = grams.filter(F.col("doc_id") < 10).select("g").distinct()
    flagged = (
        grams.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    corpus = normed.filter(F.col("doc_id") >= 10)
    return (
        corpus.join(flagged, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_contam", F.lit(0))).cast("bigint").alias("n_contaminated"),
        )
    )


# ---------------------------------------------------------------- j24


@query(
    "j24_incremental_dedup",
    oracle="""
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
    incoming AS (SELECT * FROM sh WHERE doc_id >= 250),
    corpus AS (SELECT * FROM sh WHERE doc_id < 250)
    SELECT i.doc_id AS new_doc, c.doc_id AS dup_of,
           CAST(len(list_intersect(i.shingles, c.shingles)) AS DOUBLE)
             / (len(i.shingles) + len(c.shingles) - len(list_intersect(i.shingles, c.shingles)))
             AS jaccard
    FROM incoming i JOIN corpus c ON i.block = c.block
    WHERE CAST(len(list_intersect(i.shingles, c.shingles)) AS DOUBLE)
             / (len(i.shingles) + len(c.shingles) - len(list_intersect(i.shingles, c.shingles)))
          >= 0.3
    """,
)
def j24_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: an incoming batch (doc_id >= 250) checked
    against the EXISTING corpus (doc_id < 250) — the production shape,
    where the corpus side is a persisted signature/blocking-key store
    (j9's reason to exist) and only the new slice is shingled per run.
    Asymmetric join, no self-pairing; at 100 TB the corpus side is
    read pre-bucketed by block so the join co-locates without a
    corpus-wide shuffle."""
    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select("doc_id", normalize_text(F.col("text")).alias("norm"))
    sh = block_shingles(normed)  # one shingle pass serves both slices below
    incoming = sh.filter(F.col("doc_id") >= 250).select(
        F.col("block"), F.col("doc_id").alias("new_doc"), F.col("shingles").alias("sh_i")
    )
    corpus = sh.filter(F.col("doc_id") < 250).select(
        F.col("block").alias("block_c"), F.col("doc_id").alias("dup_of"),
        F.col("shingles").alias("sh_c"),
    )
    jac = jaccard(F.col("sh_i"), F.col("sh_c"))
    return (
        incoming.join(corpus, F.col("block") == F.col("block_c"))
        .select("new_doc", "dup_of", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )


# ---------------------------------------------------------------- m3/j25


@query(
    "m3_audio_chunks",
    oracle="""
    SELECT doc_id,
           unnest(range(0, greatest(octet_length(CAST(text AS BLOB)) - 64, 0) + 1, 48))
             AS chunk_start,
           least(unnest(range(0, greatest(octet_length(CAST(text AS BLOB)) - 64, 0) + 1, 48)) + 64,
                 octet_length(CAST(text AS BLOB))) AS chunk_end
    FROM documents
    """,
)
def m3_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style chunking plan: fixed 64-byte windows with 16-byte
    overlap (stride 48) over opaque binary payloads — one row per
    chunk, the fan-out that turns per-file audio into per-chunk
    feature-extraction tasks (decode itself is the stubbed Pandas-UDF
    step, operators/multimodal.py). Pure explode(sequence), no UDF for
    the plan itself."""
    docs = load(spark, sf_dir, "documents")
    assets = multimodal.binary_assets_from_documents(docs)
    n = F.length(F.col("data"))
    starts = F.sequence(F.lit(0), F.greatest(n - 64, F.lit(0)), F.lit(48))
    return assets.select(
        "doc_id", F.explode(starts).alias("chunk_start"), n.alias("_n")
    ).select(
        "doc_id",
        "chunk_start",
        F.least(F.col("chunk_start") + 64, F.col("_n")).alias("chunk_end"),
    )


_J11_ORACLE_CTES = """
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      FROM documents
    ),
    freq AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    top AS (
      SELECT lang AS cand_lang, token FROM (
        SELECT lang, token, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS r
        FROM freq
      ) WHERE r <= 20
    ),
    doc_tokens AS (SELECT DISTINCT doc_id, token FROM toks),
    votes AS (
      SELECT doc_id, cand_lang, COUNT(*) AS hits
      FROM doc_tokens JOIN top USING (token)
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, cand_lang AS pred_lang FROM (
        SELECT doc_id, cand_lang, hits,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS r
        FROM votes
      ) WHERE r = 1
    )
"""


@query(
    "j25_langid_confusion",
    oracle=_J11_ORACLE_CTES
    + """
    SELECT d.lang AS true_lang, p.pred_lang,
           COUNT(*) AS n
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2
    """,
)
def j25_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation on-engine: confusion matrix of the j11
    language-ID votes against ground truth — the quality-measurement
    step a labeling pipeline runs after every model change. One join +
    one agg on top of the j11 plan."""
    docs = load(spark, sf_dir, "documents")
    pred = langid_train_classify(docs, "doc_id", "text", "lang", top_n=20)
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred.select("doc_id", "pred_lang"), "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------- j27/j28

PACK_BUDGET = 512  # tokens per training pack


@query(
    "j27_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    ),
    r AS (
      SELECT lang, doc_id, tokens,
             SUM(tokens) OVER (PARTITION BY lang ORDER BY tokens DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM t
    ),
    packed AS (
      SELECT lang, doc_id, tokens,
             CAST(ceil(CAST(running AS DOUBLE) / {PACK_BUDGET}) AS BIGINT) AS pack_id
      FROM r
    )
    SELECT lang, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def j27_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: bin documents into
    fixed-token-budget packs per language. Deterministic contiguous
    fill over a (tokens DESC, doc_id) total order — the distributed
    stand-in for first-fit-decreasing (true FFD is inherently
    sequential; the sorted-running-sum formulation is one window over
    one shuffle and at 100 TB runs per language partition, which is
    exactly how training shards are laid out anyway). Documents may
    straddle pack boundaries — the concat-then-chunk convention of GPT
    training pipelines."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "pack_id",
        F.ceil(F.sum("tokens").over(w).cast("double") / PACK_BUDGET).cast("bigint"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("pack_tokens"),
    )


@query(
    "j28_stratified_sample",
    oracle="""
    SELECT lang, source, doc_id, rn FROM (
      SELECT lang, source, doc_id,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def j28_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-count sampling: exactly k=5 docs per
    (lang, source) stratum, chosen by content-addressed md5 order —
    reproducible across engines/partitionings (j19 samples at a RATE;
    this guarantees a COUNT per stratum, the eval-set construction
    shape). One window over one shuffle on the stratum key."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "source", "doc_id", "rn")
    )


# ---------------------------------------------------------------- j29


@query(
    "j29_edit_distance",
    oracle="""
    WITH normed AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    pref AS (
      SELECT doc_id, substr(norm, 1, 40) AS block, substr(norm, 1, 80) AS p80
      FROM normed WHERE len(norm) >= 8
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.p80, b.p80) AS edit_dist
    FROM pref a JOIN pref b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p80, b.p80) <= 20
    """,
)
def j29_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup: Levenshtein over 80-char normalized
    prefixes of block-candidate pairs (the 40-char blocking of
    ``dedup.block_shingles``, here with its own join because the score
    is Levenshtein, not Jaccard — never all-pairs; the O(len²) DP only
    ever runs on candidates).
    Complements Jaccard: catches transposition/typo-level dups that
    shingle overlap scores poorly. Native `levenshtein` in both
    engines → exact integer oracle."""
    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select("doc_id", normalize_text(F.col("text")).alias("norm")).filter(
        F.length("norm") >= 8
    )
    pref = normed.select(
        "doc_id",
        F.substring("norm", 1, 40).alias("block"),
        F.substring("norm", 1, 80).alias("p80"),
    )
    pref = materialize(pref)
    a = pref.select(
        F.col("block"), F.col("doc_id").alias("doc_a"), F.col("p80").alias("pa")
    )
    b = pref.select(
        F.col("block").alias("block_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("p80").alias("pb"),
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= 20)
    )


# ---------------------------------------------------------------- j30


@query(
    "j30_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    )
    SELECT term,
           COUNT(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM toks
    GROUP BY term
    HAVING COUNT(*) >= 5
    """,
)
def j30_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → sorted postings list (doc ids) +
    document frequency, for terms appearing in ≥5 docs — the search /
    exact-phrase-lookup structure next to j7's tf-idf scores. One
    explode + distinct + hash agg; at 100 TB the postings lists write
    out bucketed by term so lookups are one partition probe (and the
    HAVING floor keeps hapax noise out of the index)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("term")
    ).distinct()
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= 5)
    )


# shared unigram-LM scoring pipeline (Spark) + oracle CTE text — j31
# reports it per doc, j36 stratifies on it; one definition so the
# tokenization/rounding conventions cannot drift apart
DUCK_UNIGRAM_CTES = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '{BPE_RE}')) AS tok
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM toks),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    scored AS (
      SELECT t.doc_id, t.lang, ln(CAST(v.cnt AS DOUBLE) / tot.n_total) AS logp
      FROM toks t JOIN vocab v ON t.tok = v.tok, tot
    ),
    doc_scores AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_toks,
             round(avg(logp), 4) AS lm_score
      FROM scored
      GROUP BY doc_id, lang
    )
"""


def _unigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_toks, lm_score): corpus unigram frequencies →
    per-doc avg log-probability, rounded 4. Two shuffles (vocab build,
    per-doc agg); the corpus total reattaches via a broadcast
    single-row crossJoin, never a global window."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", "lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("tok")
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    logp = F.log(F.col("cnt").cast("double") / F.col("n_total"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "lang", logp.alias("logp"))
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.round(F.avg("logp"), 4).alias("lm_score"),
    )


# shared word-trigram fan-out — j32 reports per-doc stats, j35 gates
# on the ratio; one definition for the same no-drift reason
DUCK_TRIGRAMS = (
    "unnest(list_transform(range(1, len({w}) - 2 + 1),"
    " i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2])))"
)


def _trigram_stats(words: DataFrame, keys: tuple) -> DataFrame:
    """Explode word trigrams from array column ``w`` and aggregate
    (n_tri, n_uniq, rep_ratio) per ``keys``. The ratio is one IEEE
    division of two ints — bit-identical across engines."""
    tri = words.select(
        *keys,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i),
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                ),
            )
        ).alias("g"),
    )
    return tri.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.countDistinct("g").alias("n_uniq"),
        (
            F.lit(1.0) - F.countDistinct("g").cast("double") / F.count(F.lit(1))
        ).alias("rep_ratio"),
    )


# ---------------------------------------------------------------- j31/j32


@query(
    "j31_unigram_logprob",
    oracle=DUCK_UNIGRAM_CTES
    + """
    SELECT doc_id, lang, n_toks, lm_score FROM doc_scores
    """,
)
def j31_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring: corpus-wide token
    frequencies become per-token log-probabilities; each doc scores
    avg log p(token) — the cheap perplexity proxy pipelines use to
    rank docs before an expensive model-based filter. Two shuffles
    (vocab build, per-doc score agg); the corpus total reattaches via
    a broadcast single-row crossJoin, never a global window. At 100 TB
    the vocab is a persisted table joined on token hash. Floats: the
    single IEEE division and ln() agree across engines to ≤1 ulp;
    avg rounds to 4 per the exact.py convention. Pipeline shared with
    j36 via _unigram_doc_scores."""
    return _unigram_doc_scores(spark, sf_dir)


@query(
    "j32_repetition",
    oracle="""
    WITH normed AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    tri AS (
      SELECT doc_id, lang, {tri} AS g
      FROM normed WHERE len(w) >= 3
    )
    SELECT doc_id, lang,
           COUNT(*) AS n_tri,
           COUNT(DISTINCT g) AS n_uniq,
           1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS rep_ratio
    FROM tri
    GROUP BY doc_id, lang
    """.format(tri=DUCK_TRIGRAMS.format(w="w")),
)
def j32_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram ratio (the Gopher/MassiveText repetition
    signal): fraction of word-trigram occurrences that are duplicates
    within the doc — high values flag boilerplate/spam for quality
    filtering. Trigrams assemble inside a per-row transform over the
    (short) token array, then one explode + per-doc count/distinct
    agg. The ratio is one IEEE division of two ints — bit-identical
    across engines, no rounding needed."""
    docs = load(spark, sf_dir, "documents")
    words = widen(docs).select(
        "doc_id",
        "lang",
        F.split(normalize_text(F.col("text")), " ").alias("w"),
    ).filter(F.size("w") >= 3)
    return _trigram_stats(words, ("doc_id", "lang"))


# ---------------------------------------------------------------- j33/j34


@query(
    "j33_ann_recall",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_duck_bucket("embedding")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 10),
    ex AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_duck_dot("q.qe", "c.embedding")}
                            / ({_duck_norm("q.qe")} * {_duck_norm("c.embedding")}) DESC,
                          c.vec_id
               ) AS rnk
        FROM b c, q WHERE c.vec_id != q.qid
      ) WHERE rnk <= 3
    ),
    ap AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_duck_dot("q.qe", "c.embedding")}
                            / ({_duck_norm("q.qe")} * {_duck_norm("c.embedding")}) DESC,
                          c.vec_id
               ) AS rnk
        FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.qid
      ) WHERE rnk <= 3
    )
    SELECT ex.qid,
           COUNT(*) AS n_exact,
           COUNT(ap.cid) AS n_hit,
           CAST(COUNT(ap.cid) AS DOUBLE) / COUNT(*) AS recall
    FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.cid = ap.cid
    GROUP BY ex.qid
    """,
)
def j33_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness: recall@3 of the hyperplane-LSH index
    (j18) against exact brute-force top-3 (j3) per query — the
    accuracy/cost dial every production ANN deployment tunes (more
    planes → smaller buckets → lower recall, and this op measures the
    trade). Both sides are deterministic (seeded plane literals,
    sequential-fold cosine), so recall itself hash-matches DuckDB.
    The recall division is one IEEE op on two ints — exact."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    candidates = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    exact_tbl = cosine_topk(queries, candidates, k=3).select("qid", "cid")
    approx = ann_topk_lsh(queries, candidates, k=3, planes=LSH_PLANES).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid")
    )
    hit = exact_tbl.join(
        F.broadcast(approx),
        (F.col("qid") == F.col("aqid")) & (F.col("cid") == F.col("acid")),
        "left",
    )
    return hit.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("acid").alias("n_hit"),
        (F.count("acid").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


@query(
    "j34_dedup_cascade",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    s1 AS (
      SELECT doc_id, lang, norm FROM (
        SELECT doc_id, lang, norm,
               row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM normed
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id, lang, substr(norm, 1, 40) AS block,
             {DUCK_SHINGLES.format(t="norm")} AS shingles
      FROM s1 WHERE len(norm) >= 8
    ),
    pairs AS (
      SELECT b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
            >= 0.3
    )
    SELECT s1.lang,
           COUNT(*) AS after_exact,
           COUNT(*) - COUNT(p.doc_b) AS after_near,
           COUNT(p.doc_b) AS near_dropped
    FROM s1 LEFT JOIN (SELECT DISTINCT doc_b FROM pairs) p ON s1.doc_id = p.doc_b
    GROUP BY s1.lang
    """,
)
def j34_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup cascade — the pipeline a corpus actually runs:
    exact dedup (keep lowest doc_id per normalized form), then
    near-dup removal among survivors (blocked exact-Jaccard ≥ 0.3,
    drop the higher doc_id of every pair), reported as per-language
    survivor counts. The near stage is the deterministic prefix-
    blocked kernel (``dedup.block_shingles`` + ``dedup.block_pairs``)
    so the whole cascade hash-matches DuckDB; swap in
    the MinHash-LSH candidate generator (j2) for unblocked corpora at
    scale. Stage shuffles: one window on norm, one block self-join,
    one count agg — no all-pairs anywhere."""
    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select(
        "doc_id", "lang", normalize_text(F.col("text")).alias("norm")
    )
    # survivors via min-agg (partial aggregation before the norm
    # shuffle — cheaper than a sort-based window, same keep-lowest-id
    # result); min_by recovers the kept doc's lang
    s1 = normed.groupBy("norm").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
    )
    # shingle from the SCAN and semi-join survivor ids: the projection
    # stays in the fast pre-shuffle shape (measured ~4x cheaper than
    # shingling the window/agg output) and only survivor rows verify
    surv_ids = s1.select("doc_id")
    sh = block_shingles(normed.join(F.broadcast(surv_ids), "doc_id", "left_semi"))
    dropped = (
        block_pairs(sh, 0.3)
        .select("doc_b")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        s1.join(F.broadcast(dropped), s1.doc_id == dropped.doc_b, "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("after_exact"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("after_near"),
            F.count("_hit").alias("near_dropped"),
        )
    )


@query(
    "j35_quality_gate",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / greatest(len(text), 1) AS digit_ratio
      FROM documents
    ),
    tri AS (
      SELECT doc_id,
             1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS rep_ratio
      FROM (
        SELECT doc_id, TRIGRAMS_SLOT AS g
        FROM t WHERE len(w) >= 3
      )
      GROUP BY doc_id
    ),
    flags AS (
      SELECT t.lang,
             (len(t.w) < 10) AS f_short,
             (coalesce(tri.rep_ratio, 0.0) > 0.2) AS f_rep,
             (t.digit_ratio > 0.3) AS f_num
      FROM t LEFT JOIN tri ON t.doc_id = tri.doc_id
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN NOT f_short AND NOT f_rep AND NOT f_num THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
           CAST(SUM(CASE WHEN f_num THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric
    FROM flags
    GROUP BY lang
    """.replace("TRIGRAMS_SLOT", DUCK_TRIGRAMS.format(w="w")),
)
def j35_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate — the decision stage that consumes the
    individual signals: too-short (< 10 tokens), too-repetitive
    (j32's trigram dup ratio > 0.2), too-numeric (digit fraction
    > 0.3); a doc is kept only if every gate passes, and each flag is
    counted independently per language so threshold tuning sees which
    gate bites. All signals are rational doubles of exact counts —
    bit-identical across engines, no rounding anywhere."""
    docs = load(spark, sf_dir, "documents")
    t = widen(docs).select(
        "doc_id",
        "lang",
        F.split(normalize_text(F.col("text")), " ").alias("w"),
        (
            F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0)).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("digit_ratio"),
    )
    tri = _trigram_stats(t.filter(F.size("w") >= 3), ("doc_id",)).select(
        "doc_id", "rep_ratio"
    )
    flags = t.join(tri, "doc_id", "left").select(
        "lang",
        (F.size("w") < 10).alias("f_short"),
        (F.coalesce("rep_ratio", F.lit(0.0)) > 0.2).alias("f_rep"),
        (F.col("digit_ratio") > 0.3).alias("f_num"),
    )
    keep = ~F.col("f_short") & ~F.col("f_rep") & ~F.col("f_num")
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.col("f_short").cast("int")).cast("bigint").alias("n_short"),
        F.sum(F.col("f_rep").cast("int")).cast("bigint").alias("n_repetitive"),
        F.sum(F.col("f_num").cast("int")).cast("bigint").alias("n_numeric"),
    )


@query(
    "j36_quality_mixture",
    oracle=DUCK_UNIGRAM_CTES
    + """
    , cuts AS (
      SELECT round(quantile_cont(lm_score, 0.25), 6) AS c1,
             round(quantile_cont(lm_score, 0.50), 6) AS c2,
             round(quantile_cont(lm_score, 0.75), 6) AS c3
      FROM doc_scores
    ),
    bucketed AS (
      SELECT s.doc_id, s.lm_score,
             1 + CAST(s.lm_score > c.c1 AS INT) + CAST(s.lm_score > c.c2 AS INT)
               + CAST(s.lm_score > c.c3 AS INT) AS quartile
      FROM doc_scores s, cuts c
    )
    SELECT quartile,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE
             WHEN quartile = 4 THEN 1
             WHEN quartile IN (2, 3) AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 1
             WHEN quartile = 1 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' THEN 1
             ELSE 0 END) AS BIGINT) AS n_sampled
    FROM bucketed
    GROUP BY quartile
    """,
)
def j36_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified mixture sampling — the curriculum step after
    scoring: docs bucket into quality quartiles by their unigram-LM
    score (j31) and each stratum samples at its own rate (top kept
    fully, middle 50%, bottom 12.5%) via the content-addressed md5
    threshold (f4/j19's reproducibility trick — stable across engines,
    partitionings and reruns). SCALE SHAPE: quartile cutpoints come
    from one exact-percentile aggregate broadcast back over the
    corpus — NOT a global ntile window (which would single-partition
    the sort at 100 TB); cutpoints round to 6 in both engines so a
    last-ulp interpolation difference cannot flip a boundary doc."""
    scored = _unigram_doc_scores(spark, sf_dir).select("doc_id", "lm_score")
    cuts = scored.agg(
        F.round(F.expr("percentile(lm_score, 0.25D)"), 6).alias("c1"),
        F.round(F.expr("percentile(lm_score, 0.50D)"), 6).alias("c2"),
        F.round(F.expr("percentile(lm_score, 0.75D)"), 6).alias("c3"),
    )
    bucketed = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "lm_score",
        (
            F.lit(1)
            + (F.col("lm_score") > F.col("c1")).cast("int")
            + (F.col("lm_score") > F.col("c2")).cast("int")
            + (F.col("lm_score") > F.col("c3")).cast("int")
        ).alias("quartile"),
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sampled = (
        F.when(F.col("quartile") == 4, 1)
        .when(F.col("quartile").isin(2, 3) & (h < "8"), 1)
        .when((F.col("quartile") == 1) & (h < "2"), 1)
        .otherwise(0)
    )
    return bucketed.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sampled).cast("bigint").alias("n_sampled"),
    )


@query(
    "m4_image_resize",
    oracle="""
    WITH ascii_docs AS (
      -- char arithmetic == byte arithmetic only for ASCII text; guard
      -- explicitly so a regenerated non-ASCII fixture surfaces as a
      -- row-count diff on BOTH sides, not a silent hash mismatch
      SELECT doc_id, text FROM documents
      WHERE octet_length(CAST(text AS BLOB)) = len(text)
    ),
    b AS (
      SELECT doc_id,
             octet_length(CAST(text AS BLOB)) AS src_bytes,
             CAST(ceil(octet_length(CAST(text AS BLOB)) / 7.0) AS BIGINT) AS thumb_bytes
      FROM ascii_docs
    ),
    sampled AS (
      SELECT d.doc_id,
             CAST(SUM(ascii(substr(d.text, 1 + 7 * i.i, 1))) AS BIGINT) AS thumb_checksum
      FROM ascii_docs d,
           LATERAL (SELECT unnest(range(CAST(ceil(len(d.text) / 7.0) AS BIGINT))) AS i) i
      GROUP BY d.doc_id
    )
    SELECT b.doc_id, b.src_bytes,
           CAST(64 AS BIGINT) AS thumb_w, CAST(64 AS BIGINT) AS thumb_h,
           b.thumb_bytes, COALESCE(s.thumb_checksum, 0) AS thumb_checksum
    FROM b LEFT JOIN sampled s ON b.doc_id = s.doc_id
    """,
)
def m4_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (multimodal.resize_plan): binary assets
    stream through Arrow-batched mapInPandas; the stubbed codec is
    replaced by a deterministic byte-stride subsample whose checksum
    DuckDB reproduces via character arithmetic (fixture text is
    ASCII), so the Python-worker path itself is hash-verified — not
    just row counts. Both sides filter to ASCII docs (byte-len ==
    char-len) so a non-ASCII fixture regeneration can't silently skew
    the char-vs-byte equivalence. Partition-sizing and schema
    contracts match m1."""
    docs = load(spark, sf_dir, "documents").filter(
        F.expr("octet_length(text) = char_length(text)")
    )
    assets = multimodal.binary_assets_from_documents(widen(docs))
    return multimodal.resize_plan(assets, 64, 64)


@query(
    "j37_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '{BPE_RE}')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM vocab
    )
    SELECT COUNT(*) AS n_terms,
           round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
             AS zipf_slope,
           round(regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
             AS zipf_r2
    FROM ranked
    """,
)
def j37_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health diagnostic: least-squares slope of log-frequency
    vs log-rank over the vocabulary (natural text tracks Zipf's law,
    slope ≈ −1; synthetic/templated corpora deviate sharply — a cheap
    tripwire before training). regr_slope/regr_r2 are single-pass
    moment aggregates both engines define identically; round(4) per
    the exact.py convention. The rank window runs over the POST-AGG
    vocabulary (tiny relative to the corpus), not the token stream —
    the only global sort is over distinct terms."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(F.explode(bpe_ish_tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.desc("freq"), "tok")
    ranked = vocab.select("freq", F.row_number().over(w).alias("rnk"))
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.expr("regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 4).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 4).alias("zipf_r2"),
    )


@query(
    "m5_feature_extract",
    oracle="""
    WITH ascii_docs AS (
      -- non-empty ASCII docs only: empty text yields no hist row here
      -- but a zero-vector row on the Spark side, and char arithmetic
      -- == byte arithmetic only for ASCII (see m4)
      SELECT doc_id, text FROM documents
      WHERE len(text) > 0 AND octet_length(CAST(text AS BLOB)) = len(text)
    ),
    pos AS (
      SELECT d.doc_id, ascii(substr(d.text, i.i + 1, 1)) // 16 AS bin
      FROM ascii_docs d,
           LATERAL (SELECT unnest(range(len(d.text))) AS i) i
    ),
    hist AS (
      SELECT doc_id, bin, COUNT(*) AS c FROM pos GROUP BY doc_id, bin
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bytes,
           CAST(MAX(CASE WHEN bin = 6 THEN c ELSE 0 END) AS BIGINT) AS bin6,
           CAST(MAX(CASE WHEN bin = 7 THEN c ELSE 0 END) AS BIGINT) AS bin7,
           COUNT(*) AS n_nonzero_bins
    FROM hist
    GROUP BY doc_id
    """,
)
def m5_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing (multimodal.feature_plan): binary
    assets stream through Arrow-batched mapInPandas producing a
    fixed-width 16-bin byte-histogram vector — the shape/dtype
    contract of a learned embedding with a deterministic stand-in, so
    the worker output is value-verified via byte arithmetic (ASCII
    fixture text → bins 2-7 carry the mass). Surfaced as per-doc
    histogram features for the hash check. Both sides filter to
    non-empty ASCII docs — empty text would emit a zero-vector row
    here but no hist row in the oracle, and non-ASCII breaks the
    char-vs-byte equivalence (ADVICE r3)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.expr("char_length(text) > 0 AND octet_length(text) = char_length(text)")
    )
    assets = multimodal.binary_assets_from_documents(widen(docs))
    feats = multimodal.feature_plan(assets)
    nz = F.filter(F.col("feat"), lambda c: c > 0)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.element_at("feat", 7).alias("bin6"),
        F.element_at("feat", 8).alias("bin7"),
        F.size(nz).alias("n_nonzero_bins"),
    )


@query(
    "j38_ivf_recall",
    oracle=f"""
    WITH cent_long AS (
      SELECT label, i.i AS pos,
             {QCENT_AVG.format(v="embedding[i.i + 1]")} AS cv
      FROM embeddings, (SELECT unnest(range(64)) AS i) i
      GROUP BY 1, 2
    ),
    cent AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cent_long GROUP BY label),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    qc AS (
      SELECT qid, qe, label,
             {_duck_dot("qe", "centroid")} / ({_duck_norm("qe")} * {_duck_norm("centroid")}) AS csim
      FROM q, cent
    ),
    assigned AS (
      SELECT qid, qe, label FROM (
        SELECT qid, qe, label,
               row_number() OVER (PARTITION BY qid ORDER BY csim DESC, label) AS pr
        FROM qc
      ) WHERE pr <= 1
    ),
    ap AS (
      SELECT qid, cid FROM (
        SELECT a.qid, e.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY a.qid
                 ORDER BY {_duck_dot("a.qe", "e.embedding")}
                            / ({_duck_norm("a.qe")} * {_duck_norm("e.embedding")}) DESC,
                          e.vec_id
               ) AS rnk
        FROM embeddings e JOIN assigned a ON e.label = a.label AND e.vec_id != a.qid
      ) WHERE rnk <= 3
    ),
    ex AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.vec_id AS cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_duck_dot("q.qe", "c.embedding")}
                            / ({_duck_norm("q.qe")} * {_duck_norm("c.embedding")}) DESC,
                          c.vec_id
               ) AS rnk
        FROM embeddings c, q WHERE c.vec_id != q.qid
      ) WHERE rnk <= 3
    )
    SELECT ex.qid,
           COUNT(*) AS n_exact,
           COUNT(ap.cid) AS n_hit,
           CAST(COUNT(ap.cid) AS DOUBLE) / COUNT(*) AS recall
    FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.cid = ap.cid
    GROUP BY ex.qid
    """,
)
def j38_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@3 vs exact brute force — completes the ANN eval pair
    (j33 measures the LSH index): nprobe=1 recall quantifies what the
    coarse quantizer loses when the true neighbor lives in another
    list, the dial IVF deployments trade against probe cost. Both
    sides deterministic (quantized-integer centroids, sequential-fold
    cosine) so the recall hash-matches."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    candidates = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    exact_tbl = cosine_topk(queries, candidates, k=3).select("qid", "cid")
    approx = ann_topk_ivf(queries, emb, k=3, nprobe=1).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid")
    )
    hit = exact_tbl.join(
        F.broadcast(approx),
        (F.col("qid") == F.col("aqid")) & (F.col("cid") == F.col("acid")),
        "left",
    )
    return hit.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("acid").alias("n_hit"),
        (F.count("acid").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


@query(
    "j39_url_parse",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang AS url
      FROM documents
    )
    SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1)) AS n_paths,
           MAX(regexp_extract(url, 'lang=([a-z]+)', 1)) AS max_lang
    FROM urls
    GROUP BY 1
    """,
)
def j39_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with parse_url (HOST/PATH/QUERY-param
    extraction) — the first stage of every web-corpus pipeline
    (per-domain quality priors, dedup by canonical URL, robots
    filtering all key on the parsed host). Spark's parse_url is a
    dedicated expression; the oracle proves it equals the regex
    decomposition DuckDB runs — per-host counts, distinct paths and
    query-parameter extraction all hash-match."""
    docs = load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
        ).alias("url"),
    )
    return urls.groupBy(
        F.parse_url("url", F.lit("HOST")).alias("host")
    ).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct(F.parse_url("url", F.lit("PATH"))).alias("n_paths"),
        F.max(F.parse_url("url", F.lit("QUERY"), F.lit("lang"))).alias("max_lang"),
    )


@query(
    "m6_modality_mix",
    oracle="""
    WITH a AS (
      SELECT doc_id,
             octet_length(CAST(text AS BLOB)) AS n_bytes,
             CASE octet_length(CAST(text AS BLOB)) % 4
               WHEN 0 THEN 'text' WHEN 1 THEN 'image'
               WHEN 2 THEN 'audio' ELSE 'video' END AS modality
      FROM documents
    )
    SELECT modality,
           COUNT(*) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_bytes) AS DOUBLE) / COUNT(*) AS avg_bytes,
           CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
    FROM a GROUP BY modality
    """,
)
def m6_modality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-mix report over the binary asset table: per-modality
    asset counts and byte volumes — the storage/shard-planning pass a
    multimodal corpus runs before partitioning decode work (video
    bytes dominate rows by orders of magnitude, so shard plans key on
    bytes, not rows). Modality here derives deterministically from
    payload length (the fixture stand-in for real magic-byte
    sniffing — the CASE is the swap-in point); everything else is one
    metadata-only hash agg, no byte scan. avg is exact-sum ÷ count,
    one IEEE division."""
    docs = load(spark, sf_dir, "documents")
    assets = multimodal.binary_assets_from_documents(docs)
    mod = (
        F.when(F.length("data") % 4 == 0, "text")
        .when(F.length("data") % 4 == 1, "image")
        .when(F.length("data") % 4 == 2, "audio")
        .otherwise("video")
    )
    return (
        assets.select(F.length("data").alias("n_bytes"), mod.alias("modality"))
        .groupBy("modality")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            (F.sum("n_bytes").cast("double") / F.count("*")).alias("avg_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
        )
    )


@query(
    "m7_media_dedup",
    oracle="""
    WITH uploads AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 0
    ),
    keyed AS (
      SELECT doc_id,
             md5(text) AS content_key,
             octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM uploads
    )
    SELECT content_key,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper,
           CAST((COUNT(*) - 1) * MIN(n_bytes) AS BIGINT) AS wasted_bytes
    FROM keyed
    GROUP BY content_key
    HAVING COUNT(*) >= 2
    """,
)
def m7_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed MEDIA dedup: exact duplicate detection over
    opaque binary payloads by content digest — the first dedup pass
    every multimodal store runs (the same image/video uploaded under
    many doc_ids), and the basis of content-addressed storage (store
    each distinct blob once, reference it by digest). One md5 per
    asset (16-byte shuffle key regardless of blob size — a video
    never crosses the network), one hash agg; keeper = min doc_id,
    wasted_bytes = what deleting the copies reclaims. Identical copies
    have identical sizes, so MIN(n_bytes) is exact. Unlike j1 (which
    keys text dedup on a normalized string), this keys on RAW bytes —
    the right semantics for media where any byte difference is a
    different asset. Scales as a scan + agg; at 100 TB digest
    computation co-locates with the parquet scan, and only digests
    shuffle. The fixture text corpus has no EXACT byte duplicates, so
    the asset table models re-uploads: every 7th document appears a
    second time under a new doc_id (deterministic, replicated in the
    oracle) — the clusters this finds are real, not vacuous."""
    docs = load(spark, sf_dir, "documents")
    uploads = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10000000)
        )
    )
    assets = multimodal.binary_assets_from_documents(uploads)
    keyed = assets.select(
        "doc_id",
        F.md5("data").alias("content_key"),
        F.length("data").alias("n_bytes"),
    )
    return (
        keyed.groupBy("content_key")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper"),
            ((F.count("*") - 1) * F.min("n_bytes")).cast("bigint").alias("wasted_bytes"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# ---------------------------------------------------------------- j124


@query(
    "j124_pack_manifest",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    ),
    r AS (
      SELECT lang, doc_id, tokens,
             SUM(tokens) OVER (PARTITION BY lang ORDER BY tokens DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS running
      FROM t
    ),
    packed AS (
      SELECT lang, doc_id, tokens, running,
             CAST(ceil(CAST(running AS DOUBLE) / {PACK_BUDGET}) AS BIGINT)
               AS pack_id
      FROM r
    )
    SELECT lang, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS pack_tokens,
           CAST(MAX(running) AS BIGINT) AS end_offset,
           md5(string_agg(doc_id, ',' ORDER BY running, doc_id)) AS docs_md5
    FROM packed GROUP BY lang, pack_id
    """,
)
def j124_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack MANIFEST — j27's packing materialized as the artifact a
    data loader actually consumes: per (lang, pack) the member count,
    token payload, the pack's END OFFSET in the per-language concat
    token stream (what the chunker seeks to), and an md5 over the
    ordered member doc_id list — the byte-proof that two runs (or two
    engines) filled every pack with the same documents in the same
    order, j100/j116's min-md5 posture applied to pack composition.
    j27 reports pack COUNTS; j115/j118 price and produce alternative
    packings; this pins the exact reproducible composition of the
    default concat-then-chunk layout.

    Plan: j27's single windowed running sum per language (one
    shuffle), then one hash agg on (lang, pack) whose only non-sum
    column is an ordered-list md5 — the member list is bounded by the
    pack budget (≥1-token docs ⇒ ≤{PACK_BUDGET} members), so the agg
    state is bounded per group. Fill order (tokens DESC, doc_id) is a
    total order, making the manifest deterministic; the md5 input
    orders by (running, doc_id), which equals fill order including
    zero-token-doc ties."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("running", F.sum("tokens").over(w)).withColumn(
        "pack_id",
        F.ceil(F.col("running").cast("double") / PACK_BUDGET).cast("bigint"),
    )
    ordered_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("running", "doc_id"))),
        lambda x: x["doc_id"].cast("string"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("pack_tokens"),
        F.max("running").cast("bigint").alias("end_offset"),
        F.md5(F.concat_ws(",", ordered_ids)).alias("docs_md5"),
    )
