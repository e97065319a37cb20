"""Round-7 selection & corpus-audit operators: per-source token-budget
selection (j94), blockword density gating (j95), template-shape mining
(j96), exact integer embedding covariance (j97), URL canonicalization
dedup (j98).

Design notes shared by the family:

- j94 extends the j83/j91 bucketed two-pass prefix sum to GROUPED
  cumsums (operators/prefix.grouped_bucketed_cumsum): per-source
  running totals with no per-source single-partition window — the
  few-large-groups regime where ``Window.partitionBy(source)`` would
  funnel a whole source into one task.
- j95/j96 are broadcast-list / hash-key shapes: the corpus side is one
  narrow map pass plus a bounded hash agg; nothing quadratic.
- j97 quantizes embeddings to integers FIRST (the j47 trick), so every
  covariance entry is an exact BIGINT arithmetic result — order-free,
  engine-free, no float-summation drift to tolerate.
- All randomness-free and rerun-identical (tools/determinism_check.py
  green by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark import memo
from json2hbase_spark.functions import intmat
from json2hbase_spark.io import load, widen
from json2hbase_spark.operators.prefix import (
    CUMSUM_BUCKETS,
    grouped_bucketed_cumsum,
)
from json2hbase_spark.operators.text import EN_STOPWORDS, whitespace_tokens
from json2hbase_spark.registry import query

# ---------------------------------------------------------------- j94

PER_SOURCE_TOKEN_BUDGET = 1_500  # token budget granted to EACH source
J94_QUALITY_CEIL = 16.0  # same safe ceiling as j91 (ln(1+n)·≤1.5)

_DUCK_STOPS_LIST = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"

# the j12/j91 quality score, verbatim, as a DuckDB expression
_DUCK_QUALITY = f"""
round(ln(1 + len(list_filter(string_split(text, ' '), x -> x != '')))
      * (1.0 - CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / greatest(len(text), 1))
      * (0.5 + CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
               t -> list_contains({_DUCK_STOPS_LIST}, t))) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)), 4)
"""


@query(
    "j94_source_budget_select",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT)
               AS n_tokens,
             {_DUCK_QUALITY} AS quality
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                      ORDER BY quality DESC, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM f
    )
    SELECT doc_id, source, n_tokens, quality, cum_tokens,
           (cum_tokens <= {PER_SOURCE_TOKEN_BUDGET}) AS selected
    FROM cum
    """,
)
def j94_source_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget selection — the mixture-building step
    that follows j91's global budget: every SOURCE gets its own token
    budget (equal here; a weighted mixture passes per-source budgets),
    and within each source docs are kept greedy quality-first until
    that source's budget is spent. This is how a pipeline enforces
    source diversity while still preferring quality — a global budget
    (j91) lets one huge high-quality source crowd out the rest.
    Deterministic: j12's quality score, ties broken by doc_id.

    Plan: the per-source ordered cumsum is the grouped bucketed
    two-pass prefix sum (operators/prefix.grouped_bucketed_cumsum) —
    partition key is (source, quality-band bucket), so a 100 TB source
    spreads over CUMSUM_BUCKETS tasks instead of funneling into one
    per-source window partition; offsets are a broadcast of
    |sources|·buckets totals rows. The value-derived bucket
    floor((CEIL−q)·B/CEIL) is monotone along (quality DESC) within
    every source, so bucket-local order concatenated in bucket order
    IS the per-source order — identical output to the plain window the
    oracle runs."""
    docs = load(spark, sf_dir, "documents")
    from json2hbase_spark.operators.text import quality_features, quality_score

    feats = quality_features(F.col("text"))
    quality = quality_score(feats)
    scored = docs.select(
        "doc_id",
        "source",
        feats["n_tokens"].cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
    )
    b = F.floor(
        (F.lit(J94_QUALITY_CEIL) - F.col("quality"))
        * CUMSUM_BUCKETS
        / F.lit(J94_QUALITY_CEIL)
    ).cast("long")
    bucketed = scored.withColumn(
        "_bkt", F.least(F.greatest(b, F.lit(0)), F.lit(CUMSUM_BUCKETS - 1))
    )
    cum = grouped_bucketed_cumsum(
        bucketed,
        ["source"],
        "_bkt",
        [F.desc("quality"), F.asc("doc_id")],
        "n_tokens",
        "cum_tokens",
    )
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        "cum_tokens",
        (F.col("cum_tokens") <= PER_SOURCE_TOKEN_BUDGET).alias("selected"),
    )


# ---------------------------------------------------------------- j95

# word-boundary exact-token blocklist; 'crash' is deliberately absent
# from the fixture vocabulary so the op proves non-matches stay zero
BLOCKWORDS = ("slow", "dup", "crash")
_DUCK_BLOCKS = "[" + ", ".join(f"'{w}'" for w in BLOCKWORDS) + "]"

# flag iff blockword density ≥ 5% — integer cross-multiplication
BLOCK_DENSITY_NUM = 1
BLOCK_DENSITY_DEN = 20


@query(
    "j95_blockword_gate",
    oracle=f"""
    WITH f AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT)
               AS n_tokens,
             CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                      t -> list_contains({_DUCK_BLOCKS}, lower(t)))) AS BIGINT)
               AS n_block
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_block * {BLOCK_DENSITY_DEN}
                          >= n_tokens * {BLOCK_DENSITY_NUM}
                          AND n_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(n_block) AS BIGINT) AS total_block_hits,
           round(CAST(SUM(n_block) AS DOUBLE) / greatest(SUM(n_tokens), 1), 4)
             AS corpus_block_density
    FROM f
    GROUP BY source
    """,
)
def j95_blockword_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blockword gating (the UT1/LDNOOBW-style unsafe-content screen
    every web-corpus pipeline runs): exact TOKEN-boundary matches
    against a blocklist — substring matching is the classic footgun
    ('class' contains 'ass'); token equality after lowercasing is the
    defensible rule — with a per-doc density gate (flag iff blockword
    tokens ≥ 5% of tokens, integer cross-multiplied) rolled up per
    source: docs, flagged docs, total hits, corpus-level density. The
    per-source report is the actionable unit — blocklist hits cluster
    by crawl source, and the decision is 'drop the source' far more
    often than 'drop the doc'.

    Plan: the blocklist is a tiny in-expression array literal (a real
    deployment broadcasts a DataFrame and array_contains against it);
    the corpus side is ONE narrow map pass (tokenize, two array
    filters) into a map-side-combinable hash agg on source — a 100 TB
    corpus pays one scan and one exchange of |sources| rows. No UDF,
    no join, no explode: the filter runs inside codegen on the token
    array."""
    docs = load(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.col("text"))
    blocks = F.array(*[F.lit(w) for w in BLOCKWORDS])
    f = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(blocks, F.lower(t)))
        )
        .cast("bigint")
        .alias("n_block"),
    )
    flagged = (
        (F.col("n_block") * BLOCK_DENSITY_DEN >= F.col("n_tokens") * BLOCK_DENSITY_NUM)
        & (F.col("n_tokens") > 0)
    ).cast("int")
    return f.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(flagged).cast("bigint").alias("n_flagged"),
        F.sum("n_block").cast("bigint").alias("total_block_hits"),
        F.round(
            F.sum("n_block").cast("double") / F.greatest(F.sum("n_tokens"), F.lit(1)),
            4,
        ).alias("corpus_block_density"),
    )


# ---------------------------------------------------------------- j96

PREFIX_K = 16  # shared-head width in tokens


@query(
    "j96_prefix_cluster",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS w,
             md5(text) AS th
      FROM documents
    ),
    p AS (
      SELECT doc_id, lang, th,
             md5(array_to_string(w[1:{PREFIX_K}], ' ')) AS prefix_hash
      FROM t WHERE len(w) >= {PREFIX_K}
    )
    SELECT prefix_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT th) AS BIGINT) AS n_texts,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MIN(doc_id) AS rep_doc
    FROM p GROUP BY prefix_hash HAVING COUNT(*) >= 2
    """,
)
def j96_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-head clustering: docs whose first {PREFIX_K} tokens are
    identical form a cluster — the cheap detector for template headers
    and mirrored-article families that exact dedup (j1) misses when
    only the head is shared (this corpus has ZERO exact text dups but
    ~20 shared-head clusters). Per cluster: size, distinct full texts
    (n_texts == n_docs ⇒ head-only duplication; < ⇒ exact dups hide
    inside), languages spanned (a multi-lang cluster is navigation
    boilerplate, not content), and the smallest doc_id as the stable
    representative. Complements j41 (bag-of-grams boilerplate score)
    with an ANCHORED, position-aware signal — and the prefix hash is
    the blocking key a substring-dedup pass (j93) would shard on.

    Plan: one narrow map pass computes md5(first-K-tokens) per doc,
    then ONE map-side-combinable hash agg on the 16-byte key; the ≥2
    HAVING prunes the singleton tail (virtually all of the corpus)
    before anything else happens. No join, no explode, no window —
    a 100 TB corpus pays one scan plus one exchange of (hash, small
    aggregates) rows."""
    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    p = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("th"),
        F.md5(F.concat_ws(" ", F.slice(w, 1, PREFIX_K))).alias("prefix_hash"),
    ).filter(F.size(w) >= PREFIX_K)
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("th").cast("bigint").alias("n_texts"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").alias("rep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------- j97

COV_SCALE = 1_000  # fixed-point quantizer: q = floor(x · 1000)


def _cov_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact covariance terms over the quantized embedding
    pairs (i ≤ j): (i, j, n, Σqiqj, Σqi, Σqj, max|q|) as order-free
    BIGINTs — j97's aggregation, reused by j121's power iteration and
    (per-slice, via ``_cov_terms_of``) by j144's incremental merge."""
    return _cov_terms_of(widen(load(spark, sf_dir, "embeddings")))


def _cov_terms_of(emb: DataFrame) -> DataFrame:
    """j97's term aggregation over an arbitrary embeddings slice."""
    q = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * COV_SCALE).cast("long"),
        ).alias("q")
    )
    p1 = q.select("q", F.posexplode("q").alias("i", "qi"))
    p2 = p1.select("i", "qi", F.posexplode("q").alias("j", "qj")).filter(
        F.col("j") >= F.col("i")
    )
    return p2.groupBy("i", "j").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("qi") * F.col("qj")).cast("bigint").alias("sxy"),
        F.sum("qi").cast("bigint").alias("sx"),
        F.sum("qj").cast("bigint").alias("sy"),
        F.max(F.greatest(F.abs("qi"), F.abs("qj"))).alias("_qmax"),
    )


# j97's oracle, shared with the streaming twin i37 (same output
# contract: the stream's complete-mode tally must equal the batch
# covariance bit-for-bit).
_DUCK_J97_COV = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT))
               AS q
      FROM embeddings
    ),
    p AS (
      SELECT i.i AS i, j.j AS j,
             q.q[i.i + 1] AS qi, q.q[j.j + 1] AS qj
      FROM q,
           LATERAL (SELECT unnest(range(len(q.q))) AS i) i,
           LATERAL (SELECT unnest(range(len(q.q))) AS j) j
      WHERE j.j >= i.i
    ),
    s AS (
      SELECT i, j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qi * qj) AS BIGINT) AS sxy,
             CAST(SUM(qi) AS BIGINT) AS sx,
             CAST(SUM(qj) AS BIGINT) AS sy
      FROM p GROUP BY i, j
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           n * sxy - sx * sy AS cov_num,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * {COV_SCALE} * {COV_SCALE}), 6) AS cov
    FROM s
    """


@query("j97_embed_covariance", oracle=_DUCK_J97_COV)
def j97_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix (upper triangle) — the input to
    whitening, PCA projection, and anisotropy diagnostics over a
    corpus embedding table. Exactness trick (the j47 posture):
    embeddings are quantized to integers FIRST (q = floor(x·1000)),
    so every Σq_iq_j / Σq_i is an order-free BIGINT sum — the
    covariance numerator n·Σxy − Σx·Σy is EXACT and hash-matches any
    engine regardless of partitioning or summation order; the float
    `cov` column is derived from those exact integers at the very end.
    Output: d(d+1)/2 rows of (i, j, exact numerator, covariance).

    Plan: pair explode (i ≤ j) into ONE map-side-combinable hash agg —
    the exchange carries at most d(d+1)/2 partial rows per partition
    (2,080 for d=64), so shuffle volume is independent of corpus size.
    The ×d² row fan-out is codegen'd column arithmetic; at 100 TB the
    constant-factor upgrade is a mapInArrow per-batch numpy Gram
    (d×d per Arrow batch, same partial-agg merge), and the one-pass
    integer form should switch to two-pass (center on broadcast means)
    so the n·Σxy magnitude stays within int64 — both are constant-
    factor swaps, not shape changes. An in-plan assert_true tripwire
    enforces the int64 bound on the DIFFERENCE (2·n²·qmax² < 2^63 —
    the two subtracted terms can have opposite signs, so each term
    alone being under 2^63 is not enough) at runtime, so the
    silent-wrap regime errors instead of corrupting cov_num. The
    oracle runs the identical quantized arithmetic in DuckDB."""
    s = _cov_terms(spark, sf_dir)
    # Overflow tripwire (ADVICE r7, tightened r9): the one-pass form
    # computes n·Σxy and Σx·Σy, EACH bounded by n²·qmax² — but
    # cov_num SUBTRACTS them, and with opposite signs (anti-correlated
    # dimensions) |n·Σxy| + |Σx·Σy| can reach 2·n²·qmax², so the bound
    # that keeps the difference inside int64 is 2·n²·qmax² < 2^63,
    # i.e. n²·qmax² < ~4.6e18 (4.5e18 keeps the 2% double-rounding
    # margin). Spark's non-ANSI BIGINT arithmetic wraps SILENTLY past
    # 2^63−1 (n ≈ 2M rows for unit-norm embeddings at COV_SCALE=1000).
    # At corpus sizes that trip it, switch to the two-pass centered
    # form the docstring describes. 2,080 rows → free.
    guard = (
        F.pow(F.col("n").cast("double"), 2) * F.pow(F.col("_qmax").cast("double"), 2)
        < F.lit(4.5e18)
    )
    s = s.where(
        F.assert_true(
            guard, F.lit("j97: n²·qmax² near int64 — use the two-pass centered form")
        ).isNull()
    )
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        cov_num.alias("cov_num"),
        F.round(
            cov_num.cast("double")
            / (F.col("n").cast("double") * F.col("n") * COV_SCALE * COV_SCALE),
            6,
        ).alias("cov"),
    )


# ---------------------------------------------------------------- j98


@query(
    "j98_url_canonical_dedup",
    oracle="""
    WITH urls AS (
      SELECT doc_id, unnest([
        'HTTPS://' || upper(source) || '.Example.COM:443/docs/'
          || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&lang=' || lang
          || '&utm_campaign=mirror#frag',
        'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
          || '?lang=' || lang
      ]) AS u
      FROM documents
    ),
    c AS (
      SELECT doc_id, u,
             lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) || '://'
             || regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)),
                               ':443$', '')
             || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  regexp_extract(u, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
                  'utm_[^&#]*&', ''), '[?&]utm_[^&#]*', ''), '/\\?', '?'), '/$', '')
               AS canon
      FROM urls
    )
    SELECT regexp_extract(canon, '^[a-z]+://([^/?#]+)', 1) AS host,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
           round(1.0 - CAST(COUNT(DISTINCT canon) AS DOUBLE) / COUNT(*), 4)
             AS dedup_ratio,
           MIN(canon) AS min_canon,
           MAX(canon) AS max_canon
    FROM c GROUP BY 1
    """,
)
def j98_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication — the crawl-frontier / recrawl-merge
    step that runs BEFORE content dedup: uppercase scheme+host fold to
    lowercase, the default :443 port drops, the fragment drops, utm_*
    tracking parameters strip, and the trailing slash before the query
    (or at end of path) strips; two syntactically different URLs of
    the same resource then collapse to one canonical string. Each doc
    contributes a messy variant and a clean variant (derived
    deterministically from its own columns, like j39's synthesized
    URLs), and the per-host report proves the collapse: n_canonical is
    exactly half of n_urls, with min/max canonical strings
    hash-verifying the full canonicalizer output, not just counts.
    The regex chain is RE2-safe (character classes only, no
    lookaround) so Spark's Java regex and DuckDB's RE2 agree — proven
    by the oracle hash.

    Plan: per-row string expressions (codegen, no UDF) + one
    map-side-combinable hash agg on the canonical host; a 100 TB
    frontier pays one scan and one |hosts|-row exchange. The canonical
    string itself is the dedup key downstream ops group on (the
    16-byte md5 of it in a real frontier table)."""
    docs = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTPS://"),
        F.upper("source"),
        F.lit(".Example.COM:443/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&lang="),
        F.col("lang"),
        F.lit("&utm_campaign=mirror#frag"),
    )
    clean = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    urls = docs.select("doc_id", F.explode(F.array(messy, clean)).alias("u"))
    u = F.col("u")
    canon = F.concat(
        F.lower(F.regexp_extract(u, "^([A-Za-z]+)://", 1)),
        F.lit("://"),
        F.regexp_replace(
            F.lower(F.regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1)), ":443$", ""
        ),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_extract(u, "^[A-Za-z]+://[^/?#]+([^#]*)", 1),
                        "utm_[^&#]*&",
                        "",
                    ),
                    r"[?&]utm_[^&#]*",
                    "",
                ),
                r"/\?",
                "?",
            ),
            "/$",
            "",
        ),
    )
    c = urls.select("doc_id", canon.alias("canon"))
    return (
        c.groupBy(F.regexp_extract("canon", "^[a-z]+://([^/?#]+)", 1).alias("host"))
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("canon").cast("bigint").alias("n_canonical"),
            F.round(
                1.0 - F.countDistinct("canon").cast("double") / F.count("*"), 4
            ).alias("dedup_ratio"),
            F.min("canon").alias("min_canon"),
            F.max("canon").alias("max_canon"),
        )
    )


# ---------------------------------------------------------------- j99

WINNOW_K = 16  # gram width (chars)
WINNOW_W = 8  # winnowing window (grams); guarantee = W + K - 1 = 23 chars

# the selected-fingerprint CTE chain shared by j99 (per-doc report)
# and j103 (candidate pairs): gram keys, sliding min, distinct picks
_DUCK_WINNOW_SEL = f"""pos AS (
      SELECT d.doc_id, d.n_chars, i.i,
             substr(md5(substr(d.text, i.i, {WINNOW_K})), 1, 16) ||
             lpad(CAST(100000000 - i.i AS VARCHAR), 9, '0') AS key
      FROM documents d,
           LATERAL (SELECT unnest(range(1, d.n_chars - {WINNOW_K} + 2)) AS i) i
      WHERE d.n_chars >= {WINNOW_K} + {WINNOW_W} - 1
    ),
    win AS (
      SELECT doc_id, n_chars, i,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN {WINNOW_W} - 1 PRECEDING AND CURRENT ROW)
               AS sel_key
      FROM pos
    ),
    sel AS (
      SELECT DISTINCT doc_id, n_chars, substr(sel_key, 1, 16) AS fh
      FROM win WHERE i >= {WINNOW_W}
    )"""


def _winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared winnowing pipeline: the DISTINCT selected fingerprints
    (doc_id, n_chars, fh) — j99's selection stage, reused by j103.

    MATERIALIZED before returning (r9): every consumer fans out into
    2-4 branches (per-doc counts, document frequency, the pair
    self-join), and without the cut each branch re-runs the
    char-gram md5 + sliding-window-min subtree — the expensive part
    of the whole winnow family (measured 5.9 s → 3.0 s warm for j103
    at sf0.1). Same 100 TB posture as j108's pair table: the
    selection output is ~n_chars/W rows per doc, orders of magnitude
    below the gram stream it distills, and is exactly what you'd
    checkpoint before a multi-consumer fan-out."""
    docs = load(spark, sf_dir, "documents")
    pos = (
        widen(docs.filter(F.col("n_chars") >= WINNOW_K + WINNOW_W - 1))
        .select(
            "doc_id",
            "n_chars",
            F.explode(
                F.sequence(F.lit(1), F.col("n_chars").cast("int") - WINNOW_K + 1)
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            "n_chars",
            "i",
            F.concat(
                F.substring(F.md5(F.expr(f"substring(text, i, {WINNOW_K})")), 1, 16),
                F.lpad((F.lit(100000000) - F.col("i")).cast("string"), 9, "0"),
            ).alias("key"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), Window.currentRow)
    )
    from json2hbase_spark.materialize import materialize

    return materialize(
        pos.withColumn("sel_key", F.min("key").over(w))
        .filter(F.col("i") >= WINNOW_W)
        .select("doc_id", "n_chars", F.substring("sel_key", 1, 16).alias("fh"))
        .distinct()
    )


@query(
    "j99_winnow_fingerprint",
    oracle=f"""
    WITH {_DUCK_WINNOW_SEL},
    hshare AS (
      SELECT fh, COUNT(DISTINCT doc_id) AS n_docs FROM sel GROUP BY fh
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(SUM(CASE WHEN h.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fp,
           round(CAST(SUM(CASE WHEN h.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS shared_frac,
           round(CAST(COUNT(*) AS DOUBLE)
                 / (s.n_chars - {WINNOW_K} + 1), 4) AS fp_density
    FROM sel s JOIN hshare h USING (fh)
    GROUP BY s.doc_id, s.n_chars
    """,
)
def j99_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS algorithm): hash a {WINNOW_K}-char gram at every
    offset, slide a {WINNOW_W}-gram window, and select each window's
    MINIMUM hash (ties broken by RIGHTMOST position — robust
    winnowing); the distinct selected hashes are the doc's
    fingerprints. Guarantee: any shared substring of at least
    W + K - 1 chars produces at least one shared fingerprint, with a
    ~2/(W+1) expected selection density — the principled middle ground
    between j13 (strided fingerprints: cheap, no guarantee) and j93
    (every-offset audit: exact, chars-heavy output). Per doc:
    fingerprint count, fingerprints shared with ≥2 docs, shared
    fraction (the dup-candidate signal), and selection density.

    Plan: the min-with-rightmost-tiebreak is ONE window min over a
    string key that encodes (hash, reversed zero-padded position) —
    lexicographic min IS the tuple min, no argmin gymnastics, portable
    to any engine. The hash is md5 TRUNCATED to 16 hex chars (64
    bits): both engines truncate identically so the selection stays
    bit-equal, and the narrower key measured 4× faster end-to-end at
    sf0.1 (the key rides a 10M-row sort, a sliding min, and a
    distinct — byte width is the constant that matters; 64-bit
    fingerprints are what MOSS deployments use). The gram stream is
    linear (~n_chars rows); the trailing ROWS window runs inside the
    per-doc sort the island window families (j93) already pay; the
    share test is one hash agg on the fingerprint + an equi join
    back. At 100 TB fingerprint selection is embarrassingly parallel
    per doc; only the DISTINCT fingerprint table (~2/(W+1) of gram
    volume) shuffles corpus-wide."""
    sel = _winnow_selected(spark, sf_dir)
    hshare = sel.groupBy("fh").agg(F.countDistinct("doc_id").alias("n_docs"))
    shared = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        sel.join(hshare, "fh")
        .groupBy("doc_id", "n_chars")
        .agg(
            F.count("*").cast("bigint").alias("n_fp"),
            F.sum(shared).cast("bigint").alias("n_shared_fp"),
            F.round(F.sum(shared).cast("double") / F.count("*"), 4).alias(
                "shared_frac"
            ),
            F.round(
                F.count("*").cast("double") / (F.col("n_chars") - WINNOW_K + 1), 4
            ).alias("fp_density"),
        )
        .select("doc_id", "n_fp", "n_shared_fp", "shared_frac", "fp_density")
    )


# --------------------------------------------------------------- j100

# invisible-character set every web corpus carries: zero-width space /
# non-joiner / joiner, BOM; plus NBSP which folds to a regular space
ZERO_WIDTH = "​‌‍﻿"
NBSP = " "
# deterministic mess injected per doc (j98's synthesize-the-input
# pattern): leading spaces, a zero-width + NBSP cluster mid-doc, a tab
# tail — so the normalizer provably removes a KNOWN dirt budget
_MESS_MID = " " + ZERO_WIDTH[0] + NBSP + ZERO_WIDTH[3] + " "


@query(
    "j100_text_normalize",
    oracle=f"""
    WITH messy AS (
      SELECT doc_id, source,
             '  ' || text || '{_MESS_MID}' || substr(text, 1, 10) || chr(9)
               AS raw
      FROM documents
    ),
    norm AS (
      SELECT doc_id, source, raw,
             trim(regexp_replace(
               regexp_replace(
                 replace(raw, '{NBSP}', ' '),
                 '[{ZERO_WIDTH}]', '', 'g'),
               '[ \t\r\n]+', ' ', 'g')) AS clean
      FROM messy
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN clean != raw THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_changed,
           CAST(SUM(len(raw) - len(clean)) AS BIGINT) AS chars_removed,
           CAST(SUM(len(clean)) AS BIGINT) AS sum_clean_len,
           MIN(md5(clean)) AS min_clean_md5
    FROM norm GROUP BY source
    """,
)
def j100_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode dirt normalization — the first map pass of every web
    pipeline: zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) strip, NBSP
    folds to a plain space, whitespace runs collapse to one space,
    ends trim. Each doc gets a deterministic messy variant (leading
    spaces + a zero-width/NBSP cluster + duplicated head + tab tail —
    j98's synthesize-the-dirt pattern, since the fixture text is
    clean), and the per-source report proves the normalizer: every doc
    changes, the removed-chars budget is exact, and min(md5(clean))
    hash-verifies the full cleaned BYTES, not just counts. The regex
    set is RE2-safe (explicit character classes, no \\s whose Unicode
    scope differs by engine, no lookaround) so Spark's Java regex and
    DuckDB's RE2 provably agree.

    Plan: pure per-row codegen'd string expressions (replace + two
    regexp_replace + trim — no UDF) into one map-side-combinable hash
    agg on source; a 100 TB corpus pays one scan and a |sources|-row
    exchange. NFC/NFKC canonicalization is the one step Spark lacks a
    built-in for — at 100 TB that runs as an Arrow-batched
    mapInPandas (unicodedata.normalize) AFTER this cheap native pass
    has handled the high-frequency dirt, keeping the Python path off
    the hot bytes."""
    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("  "),
        F.col("text"),
        F.lit(_MESS_MID),
        F.substring("text", 1, 10),
        F.lit("\t"),
    )
    messy = docs.select("doc_id", "source", raw.alias("raw"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.replace(F.col("raw"), F.lit(NBSP), F.lit(" ")),
                f"[{ZERO_WIDTH}]",
                "",
            ),
            "[ \t\r\n]+",
            " ",
        )
    )
    norm = messy.withColumn("clean", clean)
    changed = F.when(F.col("clean") != F.col("raw"), 1).otherwise(0)
    return norm.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(changed).cast("bigint").alias("docs_changed"),
        F.sum(F.length("raw") - F.length("clean")).cast("bigint").alias(
            "chars_removed"
        ),
        F.sum(F.length("clean")).cast("bigint").alias("sum_clean_len"),
        F.min(F.md5("clean")).alias("min_clean_md5"),
    )


# --------------------------------------------------------------- j103

FP_MAX_DF = 50  # drop fingerprints shared by more docs (MOSS's
#                 common-code/boilerplate exclusion — and the pair-
#                 blowup guard: pairs per fingerprint ≤ FP_MAX_DF²/2)
PAIR_MIN_SHARED = 2  # report pairs sharing at least this many picks


@query(
    "j103_winnow_pairs",
    oracle=f"""
    WITH {_DUCK_WINNOW_SEL},
    nfp AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY doc_id
    ),
    rare AS (
      SELECT fh FROM sel GROUP BY fh
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {FP_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sel a JOIN rare r ON r.fh = a.fh
                 JOIN sel b ON b.fh = a.fh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {PAIR_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           round(CAST(p.n_shared AS DOUBLE) / na.n_fp, 4) AS overlap_a,
           round(CAST(p.n_shared AS DOUBLE) / nb.n_fp, 4) AS overlap_b,
           round(CAST(p.n_shared AS DOUBLE) / least(na.n_fp, nb.n_fp), 4)
             AS containment
    FROM pairs p
    JOIN nfp na ON na.doc_id = p.doc_a
    JOIN nfp nb ON nb.doc_id = p.doc_b
    """,
)
def j103_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidate pairs — the MOSS match stage on top of
    j99's fingerprints: docs sharing ≥{PAIR_MIN_SHARED} selected
    fingerprints become candidate pairs, scored by shared count and
    containment (shared / smaller side's fingerprint count — the
    plagiarism-direction signal: containment ≈ 1 means the smaller
    doc is essentially inside the larger). Fingerprints shared by
    more than {FP_MAX_DF} docs are EXCLUDED first — MOSS's
    common-code/boilerplate rule, and the scale guard: it caps the
    per-fingerprint pair fan-out at {FP_MAX_DF}²/2, making the pair
    stage's output linear in corpus size at constant duplication
    density (the same argument as LSH banding, measured in SCALE.md).

    Plan: one hash agg finds the rare shared fingerprints, the pair
    join is equi on the 64-bit fingerprint restricted to that set
    (never all-pairs), and the per-doc fingerprint counts attach by
    two id-keyed joins of the tiny pair table. Division of exact
    integer counts — no float drift."""
    sel = _winnow_selected(spark, sf_dir)
    nfp = sel.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    rare = (
        sel.groupBy("fh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= FP_MAX_DF))
        .select("fh")
    )
    s = sel.join(rare, "fh").select("fh", "doc_id")
    pairs = (
        s.alias("a")
        .join(
            s.alias("b"),
            (F.col("a.fh") == F.col("b.fh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= PAIR_MIN_SHARED)
    )
    na = nfp.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    nb = nfp.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_fp_a"), 4).alias(
                "overlap_a"
            ),
            F.round(F.col("n_shared").cast("double") / F.col("n_fp_b"), 4).alias(
                "overlap_b"
            ),
            F.round(
                F.col("n_shared").cast("double") / F.least("n_fp_a", "n_fp_b"), 4
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------- j104

SEG_CHARS = 40  # segment width (chars) — j92's granularity
SEG_KEEP_NUM = 4  # keep iff clean chars ≥ 4/5 of segment (integer ×)
SEG_KEEP_DEN = 5


@query(
    "j104_segment_filter",
    oracle=f"""
    WITH segs AS (
      SELECT d.doc_id, s.st,
             substr(d.text, s.st, {SEG_CHARS}) AS seg
      FROM documents d,
           LATERAL (SELECT unnest(range(1, d.n_chars + 1, {SEG_CHARS})) AS st) s
      WHERE d.n_chars >= 1
    ),
    scored AS (
      SELECT doc_id, st, seg,
             len(seg) AS seg_len,
             len(regexp_replace(lower(seg), '[^a-z ]', '', 'g')) AS clean_len
      FROM segs
    ),
    kept AS (
      SELECT doc_id, st, seg, seg_len, clean_len,
             (clean_len * {SEG_KEEP_DEN} >= seg_len * {SEG_KEEP_NUM}) AS keep
      FROM scored
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS kept_frac,
           CAST(SUM(CASE WHEN keep THEN seg_len ELSE 0 END) AS BIGINT)
             AS kept_chars,
           md5(string_agg(CASE WHEN keep THEN seg ELSE '' END, '' ORDER BY st))
             AS cleaned_md5
    FROM kept GROUP BY doc_id
    """,
)
def j104_segment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level cleaning (RefinedWeb/CCNet-style PARTIAL document
    filtering): docs split into fixed {SEG_CHARS}-char segments (j92's
    granularity), each kept iff its clean-character ratio — [a-z ]
    after lowercasing — is ≥ {SEG_KEEP_NUM}/{SEG_KEEP_DEN} (integer
    cross-multiplied, no float threshold); the doc survives as the
    ordered concatenation of kept segments. Doc-level gates (j35/j80)
    drop whole documents; this is the op that SALVAGES a good doc with
    an embedded junk block — per doc: segment count, kept count/
    fraction, kept chars, and md5 of the reconstructed cleaned text
    (byte-proof of the reconstruction, not just counts).

    Plan: segment explode is a widened map pass (n_chars/{SEG_CHARS}
    rows); scoring is codegen'd regexp arithmetic; the reconstruction
    is one per-doc agg over sort_array(collect_list(struct(st, seg)))
    — grouping shuffles (doc_id, segment) rows once, the in-group sort
    is bounded by doc length. No join, no window, linear."""
    docs = load(spark, sf_dir, "documents")
    segs = (
        widen(docs.filter(F.col("n_chars") >= 1))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_chars").cast("int"), F.lit(SEG_CHARS))
            ).alias("st"),
            "text",
        )
        .select(
            "doc_id",
            "st",
            F.expr(f"substring(text, st, {SEG_CHARS})").alias("seg"),
        )
    )
    seg_len = F.length("seg")
    clean_len = F.length(F.regexp_replace(F.lower("seg"), "[^a-z ]", ""))
    kept = segs.select(
        "doc_id",
        "st",
        "seg",
        seg_len.alias("seg_len"),
        (clean_len * SEG_KEEP_DEN >= seg_len * SEG_KEEP_NUM).alias("keep"),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(F.col("keep").cast("int")).cast("double") / F.count("*"), 4
            ).alias("kept_frac"),
            F.sum(F.when(F.col("keep"), F.col("seg_len")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("st", "seg", "keep"))
                        ),
                        lambda x: F.when(x["keep"], x["seg"]).otherwise(F.lit("")),
                    ),
                    "",
                )
            ).alias("cleaned_md5"),
        )
    )


# --------------------------------------------------------------- j105

CURR_HI = 2.4  # quality ≥ HI → band 0 (train first)
CURR_LO = 2.1  # LO ≤ quality < HI → band 1; below → band 2


@query(
    "j105_curriculum_order",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             {_DUCK_QUALITY} AS quality
      FROM documents
    ),
    banded AS (
      SELECT doc_id, quality,
             CASE WHEN quality >= {CURR_HI} THEN 0
                  WHEN quality >= {CURR_LO} THEN 1
                  ELSE 2 END AS band,
             md5(CAST(doc_id AS VARCHAR)) AS okey
      FROM f
    )
    SELECT doc_id, band, quality, okey,
           CAST(row_number() OVER (PARTITION BY band ORDER BY okey)
                AS BIGINT) AS band_rank,
           CAST(row_number() OVER (ORDER BY band, okey) AS BIGINT)
             AS global_rank
    FROM banded
    """,
)
def j105_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering — band-major deterministic training
    order: docs band by FIXED quality thresholds (band 0 = highest-
    quality first — fixed thresholds, not quantiles, are the realistic
    curriculum design AND the scale design: no global sort to find
    split points), shuffle WITHIN each band by a content hash
    (md5(doc_id) — j62's rerun-identical shuffle), and every doc gets
    its exact band_rank and global_rank. This is the op that hands a
    trainer its epoch order: curriculum between bands, uniform shuffle
    inside them, reproducible across reruns and engines.

    Plan: the oracle's two row_number() windows (one of them a GLOBAL
    sort) are replaced by ONE bucketed prefix sum over the compound
    monotone bucket band·B + hex_bucket(okey) — global_rank is the
    running count along (band, okey) with no Exchange SinglePartition
    and no range sort; band_rank re-derives as global_rank − band
    offset, where the offsets are a broadcast theta join of the 3-row
    band-counts table. The only data-sized exchange is one
    hashpartitioning(bucket) of (doc_id, band, 16-byte key) metadata —
    the operators/prefix.py contract, ×10-probed linear."""
    from json2hbase_spark.operators.prefix import bucketed_cumsum, hex_prefix_bucket
    from json2hbase_spark.operators.text import quality_features, quality_score

    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    quality = quality_score(feats)
    banded = docs.select(
        "doc_id",
        quality.alias("quality"),
        F.md5(F.col("doc_id").cast("string")).alias("okey"),
    ).withColumn(
        "band",
        F.when(F.col("quality") >= CURR_HI, 0)
        .when(F.col("quality") >= CURR_LO, 1)
        .otherwise(2)
        .cast("long"),
    )
    b = banded.withColumn(
        "_bkt",
        F.col("band") * CUMSUM_BUCKETS + hex_prefix_bucket(F.col("okey")),
    ).withColumn("_one", F.lit(1).cast("long"))
    cum = bucketed_cumsum(b, "_bkt", ["band", "okey"], "_one", "global_rank")
    counts = banded.groupBy("band").agg(F.count("*").cast("long").alias("_n"))
    ca, cb = counts.alias("_ca"), counts.alias("_cb")
    offsets = (
        ca.join(F.broadcast(cb), F.col("_cb.band") < F.col("_ca.band"), "left")
        .groupBy(F.col("_ca.band").alias("band"))
        .agg(F.coalesce(F.sum("_cb._n"), F.lit(0).cast("long")).alias("_off"))
    )
    return (
        cum.join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "band",
            "quality",
            "okey",
            (F.col("global_rank") - F.col("_off")).cast("bigint").alias("band_rank"),
            F.col("global_rank").cast("bigint").alias("global_rank"),
        )
    )


# --------------------------------------------------------------- d16


@query(
    "d16_weighted_median",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT)
               AS n_tokens,
             {_DUCK_QUALITY} AS quality
      FROM documents
    ),
    cum AS (
      SELECT source, doc_id, quality, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                      ORDER BY quality, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tok,
             CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS tot_tok,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
    FROM f
    )
    SELECT source, MIN(n_docs) AS n_docs, MIN(tot_tok) AS total_tokens,
           MIN(quality) AS tw_median_quality
    FROM cum
    WHERE 2 * cum_tok >= tot_tok
    GROUP BY source
    """,
)
def d16_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-WEIGHTED median quality per source — corpus statistics in
    the units that matter for training: the median TOKEN's quality,
    not the median document's (a source of many short clean docs and
    a few huge junk docs has a good doc-median and a terrible token-
    median; the token view is what the loss actually sees). Exact, no
    percentile_approx: order docs by (quality, doc_id), running token
    cumsum, the weighted median is the quality of the first row where
    2·cum ≥ total — all integer comparisons against exact BIGINT sums.

    Plan: the per-source ordered cumsum is j94's GROUPED bucketed
    two-pass prefix sum (value-derived quality band bucket — monotone
    along the order); per-source totals broadcast back; the median
    pick is a filter + min_by struct agg. No per-source
    single-partition window, no sort beyond the bucket-local ones —
    the few-large-groups regime handled the j94 way. The oracle runs
    the plain windows; outputs are identical by the prefix-sum
    contract (operators/prefix.py)."""
    from json2hbase_spark.operators.text import quality_features, quality_score

    feats = quality_features(F.col("text"))
    quality = quality_score(feats)
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        feats["n_tokens"].cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
    )
    # quality ASC this time: bucket must be monotone along (quality ASC)
    b = F.floor(F.col("quality") * CUMSUM_BUCKETS / F.lit(J94_QUALITY_CEIL)).cast(
        "long"
    )
    bucketed = scored.withColumn(
        "_bkt", F.least(F.greatest(b, F.lit(0)), F.lit(CUMSUM_BUCKETS - 1))
    )
    cum = grouped_bucketed_cumsum(
        bucketed,
        ["source"],
        "_bkt",
        [F.asc("quality"), F.asc("doc_id")],
        "n_tokens",
        "cum_tok",
    )
    totals = scored.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tok"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    return (
        cum.join(F.broadcast(totals), "source")
        .filter(2 * F.col("cum_tok") >= F.col("tot_tok"))
        .groupBy("source")
        .agg(
            F.min("n_docs").alias("n_docs"),
            F.min("tot_tok").alias("total_tokens"),
            F.min("quality").alias("tw_median_quality"),
        )
    )


# --------------------------------------------------------------- j106

HEAPS_LOG_SCALE = 1_000  # fixed-point quantizer for ln() values.
# Chosen so the OLS moment sums stay inside BIGINT: x ≲ ln(N)·10³ ≈
# 2·10⁴, so n·Σx² ≈ n²·x² needs n ≲ 10⁵ curve points. The fixture has
# one point per doc (≤ 5·10³); a 100 TB corpus samples the curve at
# fixed checkpoints (every K docs) instead of every doc — a Heaps fit
# needs hundreds of points, not billions — keeping the same bound.


def _heaps_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Heaps'-law cumulative curve shared by j106 (OLS slope) and
    j109 (fixed-budget checkpoints): per-doc token counts and
    first-seen new-type counts, running-summed in doc_id order via the
    bucketed two-pass prefix sum (operators/prefix.py — no
    SinglePartition window, the corpus never globally sorts). Returns
    one row per doc: (doc_id, n_tok, new_types, cum_tokens,
    cum_types)."""
    from json2hbase_spark.operators.prefix import bucketed_cumsum_multi

    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("t")
    )
    firsts = toks.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("new_types")
    )
    per_doc = (
        toks.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_tok"))
        .join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
    )
    # monotone integer bucket over doc_id → distributed running sums
    mx = per_doc.agg(F.max("doc_id").alias("m"))
    b = per_doc.crossJoin(F.broadcast(mx)).withColumn(
        "_bkt",
        (F.col("doc_id") * CUMSUM_BUCKETS / (F.col("m") + 1)).cast("long"),
    )
    # ONE fused two-pass cumsum for both running sums (VERDICT r10:
    # the chained form paid the window + totals + offsets chain twice)
    return bucketed_cumsum_multi(
        b,
        "_bkt",
        ["doc_id"],
        [("n_tok", "cum_tokens"), ("new_types", "cum_types")],
    )


@query(
    "j106_heaps_law",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
        AS t
      FROM documents
    ),
    firsts AS (
      SELECT t, MIN(doc_id) AS first_doc FROM toks GROUP BY t
    ),
    per_doc AS (
      SELECT d.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types
      FROM toks d
      LEFT JOIN (SELECT first_doc, COUNT(*) AS new_types
                 FROM firsts GROUP BY first_doc) f
        ON f.first_doc = d.doc_id
      GROUP BY d.doc_id, f.new_types
    ),
    cum AS (
      SELECT doc_id,
             CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_tokens,
             CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types
      FROM per_doc
      WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    pts AS (
      SELECT CAST(floor(ln(cum_tokens) * {HEAPS_LOG_SCALE}) AS BIGINT) AS x,
             CAST(floor(ln(cum_types) * {HEAPS_LOG_SCALE}) AS BIGINT) AS y
      FROM cum
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pts
    )
    SELECT n AS n_points,
           n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 4) AS heaps_beta
    FROM s
    """,
)
def j106_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth — the corpus diagnostic that tells
    you whether more data still buys new vocabulary (V ≈ K·Nᵝ; natural
    text β ≈ 0.4-0.6, template/duplicated corpora flatten toward 0,
    OCR noise inflates toward 1): cumulative (tokens, types) after
    every doc in doc_id order, log-log OLS slope = β. Exactness (the
    j97/j47 posture): ln() values quantize to BIGINT fixed-point
    BEFORE the regression sums, so slope_num/slope_den are exact
    order-free integers — the float β is one division at the end;
    cross-engine hash equality holds despite the doubles inside ln.

    Plan: new-types-per-doc is e13's first-seen identity on the token
    domain (token-keyed min agg, map-side combined); the cumulative
    curve is a running sum over per-DOC rows via the window (the
    oracle's form — at fixture scale |docs| rows; the 100 TB form
    swaps in the bucketed prefix sum on the monotone doc_id bucket,
    operators/prefix.py, same outputs); the OLS sums are one scalar
    agg. Output is a single row: point count, exact numerator/
    denominator, β."""
    cum = _heaps_cum(spark, sf_dir)
    pts = cum.select(
        F.floor(F.log("cum_tokens") * HEAPS_LOG_SCALE).cast("bigint").alias("x"),
        F.floor(F.log("cum_types") * HEAPS_LOG_SCALE).cast("bigint").alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_points"),
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.round(num.cast("double") / den, 4).alias("heaps_beta"),
    )


# --------------------------------------------------------------- j108

# j103's scored-pair CTE chain (same SQL, one extra containment CTE)
# feeding the component resolution — the FIXPOINT recursive twin of
# the converged pointer-doubling propagation (_labels_converged):
# winnow-pair chains have no structural diameter bound, so unlike
# j20's block-bounded graph the recursion runs to closure, not to
# COMPONENT_HOPS.
_DUCK_WINNOW_CLUSTERS = f"""WITH RECURSIVE {_DUCK_WINNOW_SEL},
    nfp AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY doc_id
    ),
    rare AS (
      SELECT fh FROM sel GROUP BY fh
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {FP_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sel a JOIN rare r ON r.fh = a.fh
                 JOIN sel b ON b.fh = a.fh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {PAIR_MIN_SHARED}
    ),
    spairs AS (
      SELECT p.doc_a, p.doc_b, p.n_shared,
             round(CAST(p.n_shared AS DOUBLE)
                   / least(na.n_fp, nb.n_fp), 4) AS containment
      FROM pairs p
      JOIN nfp na ON na.doc_id = p.doc_a
      JOIN nfp nb ON nb.doc_id = p.doc_b
    ),
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs
      )
    ),
    bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, reached) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.node, bi.dst
      FROM reach r JOIN bi ON bi.src = r.reached
    ),
    comp AS (SELECT node AS doc_id, min(reached) AS cluster
             FROM reach GROUP BY node),
    cstats AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM comp GROUP BY cluster
    ),
    pstats AS (
      SELECT c.cluster,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(s.n_shared) AS BIGINT) AS sum_shared,
             MAX(s.containment) AS max_containment
      FROM spairs s JOIN comp c ON c.doc_id = s.doc_a
      GROUP BY c.cluster
    )
    SELECT cs.cluster, cs.n_docs, p.n_pairs, p.sum_shared,
           p.max_containment
    FROM cstats cs JOIN pstats p ON p.cluster = cs.cluster
"""


@query("j108_winnow_clusters", oracle=_DUCK_WINNOW_CLUSTERS)
def j108_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing pair→cluster resolution — the MOSS report at CLUSTER
    granularity: j103's candidate pairs become the edge set of a
    similarity graph, resolved into TRUE connected components by
    converged pointer-doubling min-label propagation (winnow-pair
    chains have no block-diameter bound, so j20's 3-hop form can
    split a long chain — _labels_converged runs to convergence and
    ERRORS via an in-plan tripwire if it hasn't),
    and each cluster is reported once — members, internal pair count,
    total shared fingerprints, and the strongest containment inside
    the cluster. This is the shape reviewers actually consume: "these
    N docs are one template family", not O(N²) pair rows — and the
    unit the dedup pipeline acts on (j26 canonical pick, j107
    cluster-safe split take cluster labels exactly like these).

    Plan: the scored pair table is materialized ONCE (it is the small
    invariant of the iteration — each propagation hop would otherwise
    re-run the winnowing window over the full gram stream), label
    propagation is up to 8 pointer-doubling join+min-agg rounds over
    the tiny edge set with an adaptive early-exit once no edge
    straddles two labels (see _labels_converged), and the report is
    two bounded hash aggs keyed on the cluster label. SMJ inside the propagation is j20's justified
    shape (edges vs labels); at 100 TB the pair table is ~duplication
    density × corpus, orders of magnitude below the gram stream the
    selection stage already paid for."""
    from json2hbase_spark.materialize import materialize
    from json2hbase_spark.plans.advanced_queries import _labels_converged

    pairs = materialize(j103_winnow_pairs(spark, sf_dir))
    labels = _labels_converged(
        pairs.select("doc_a", "doc_b")
    )  # (node, label = component min doc_id), convergence-tripwired
    cstats = labels.groupBy(F.col("label").alias("cluster")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    pstats = (
        pairs.join(labels.select(F.col("node").alias("doc_a"), "label"), "doc_a")
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("n_shared").cast("bigint").alias("sum_shared"),
            F.max("containment").alias("max_containment"),
        )
    )
    return cstats.join(pstats, "cluster").select(
        "cluster", "n_docs", "n_pairs", "sum_shared", "max_containment"
    )


# --------------------------------------------------------------- j109

HEAPS_CHECKPOINTS = 10  # fixed token-budget checkpoints (deciles of
#                         the total token stream)


@query(
    "j109_heaps_checkpoints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
        AS t
      FROM documents
    ),
    firsts AS (
      SELECT t, MIN(doc_id) AS first_doc FROM toks GROUP BY t
    ),
    per_doc AS (
      SELECT d.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types
      FROM toks d
      LEFT JOIN (SELECT first_doc, COUNT(*) AS new_types
                 FROM firsts GROUP BY first_doc) f
        ON f.first_doc = d.doc_id
      GROUP BY d.doc_id, f.new_types
    ),
    cum AS (
      SELECT doc_id,
             CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_tokens,
             CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types
      FROM per_doc
      WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    tot AS (SELECT MAX(cum_tokens) AS total FROM cum),
    banded AS (
      SELECT CAST((cum_tokens * {HEAPS_CHECKPOINTS} + total - 1) // total
                  AS BIGINT) AS checkpoint,
             CAST(MAX(cum_tokens) AS BIGINT) AS cum_tokens,
             CAST(MAX(cum_types) AS BIGINT) AS cum_types
      FROM cum, tot GROUP BY 1
    ),
    d AS (
      SELECT checkpoint, cum_tokens, cum_types,
             cum_tokens - COALESCE(lag(cum_tokens) OVER (ORDER BY checkpoint),
                                   0) AS delta_tokens,
             cum_types - COALESCE(lag(cum_types) OVER (ORDER BY checkpoint),
                                  0) AS delta_types
      FROM banded
    )
    SELECT checkpoint, cum_tokens, cum_types,
           CAST(delta_tokens AS BIGINT) AS delta_tokens,
           CAST(delta_types AS BIGINT) AS delta_types,
           round(CAST(delta_types AS DOUBLE) / delta_tokens, 6)
             AS marginal_rate
    FROM d
    """,
)
def j109_heaps_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' curve at FIXED token budgets — the 100 TB sampling
    posture j106's docstring promises: instead of one doc-level point
    per document (billions of rows at corpus scale), report the
    vocabulary state at {HEAPS_CHECKPOINTS} cumulative-token
    checkpoints (deciles of the total stream). Per checkpoint: exact
    cumulative tokens/types at the last document inside the budget,
    the token/type deltas since the previous checkpoint, and the
    marginal new-type rate — "does the next 10% of corpus still buy
    vocabulary?" answered in {HEAPS_CHECKPOINTS} rows. A flattening
    marginal_rate column IS the diminishing-returns diagnostic data
    teams act on (stop collecting, or switch sources).

    Plan: reuses j106's distributed cumulative curve (_heaps_cum —
    token-keyed min agg for first-seen types + bucketed two-pass
    prefix sums, no global sort); the total is a 1-row broadcast; the
    checkpoint band is integer arithmetic ((cum·K + total−1) DIV
    total, exact in both engines); per-band maxima are one hash agg
    (cum_types is monotone WITH cum_tokens, so max picks the same
    row). The delta lag runs over ≤{HEAPS_CHECKPOINTS} band rows — a
    bounded-domain SinglePartition window, enumerated in
    SINGLEPART_JUSTIFIED (j50's category). All columns exact integers
    except the final rounded division."""
    cum = _heaps_cum(spark, sf_dir)
    tot = cum.agg(F.max("cum_tokens").alias("total"))
    banded = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "checkpoint",
            F.expr(f"(cum_tokens * {HEAPS_CHECKPOINTS} + total - 1) DIV total"),
        )
        .groupBy("checkpoint")
        .agg(
            F.max("cum_tokens").cast("bigint").alias("cum_tokens"),
            F.max("cum_types").cast("bigint").alias("cum_types"),
        )
    )
    w = Window.orderBy("checkpoint")
    d = banded.select(
        "checkpoint",
        "cum_tokens",
        "cum_types",
        (F.col("cum_tokens") - F.coalesce(F.lag("cum_tokens").over(w), F.lit(0)))
        .cast("bigint")
        .alias("delta_tokens"),
        (F.col("cum_types") - F.coalesce(F.lag("cum_types").over(w), F.lit(0)))
        .cast("bigint")
        .alias("delta_types"),
    )
    return d.select(
        "checkpoint",
        "cum_tokens",
        "cum_types",
        "delta_tokens",
        "delta_types",
        F.round(F.col("delta_types").cast("double") / F.col("delta_tokens"), 6).alias(
            "marginal_rate"
        ),
    )


# --------------------------------------------------------------- j119

# Deterministic NFC-relevant dirt (j100's synthesize-the-input
# pattern — the fixture text is pure ASCII, where NFC is a no-op):
# each doc gets a decomposed "e + COMBINING ACUTE" and "A + COMBINING
# RING" suffix, which NFC must compose to é / Å — exactly one
# code point removed per pair, so the changed-char budget is known.
# (Spark's F.length counts code points — UTF8String.numChars — the
# same unit as DuckDB's len(), so supplementary-plane dirt would also
# compare cleanly; BMP pairs are simply the canonical deterministic
# composing examples, not an engine constraint. ADVICE r9 fix.)
_NFC_DIRT = " Cafe\u0301 A\u030a"  # decomposed on purpose


@query(
    "j119_nfc_normalize",
    oracle=f"""
    WITH messy AS (
      SELECT lang, text || '{_NFC_DIRT}' AS raw FROM documents
    ),
    norm AS (
      SELECT lang, raw, nfc_normalize(raw) AS clean FROM messy
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN clean != raw THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_changed,
           CAST(SUM(len(raw) - len(clean)) AS BIGINT) AS chars_removed,
           CAST(SUM(len(clean)) AS BIGINT) AS sum_clean_len,
           MIN(md5(clean)) AS min_clean_md5
    FROM norm GROUP BY lang
    """,
)
def j119_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization — the one normalization step
    Spark has no built-in for (j100's documented gap, now closed):
    compose decomposed sequences (e + U+0301 → é) so byte-identical
    text hashes identically in dedup (j1/j48 keys), tokenizes
    identically, and matches DuckDB/utf8proc byte-for-byte. Each doc
    gets a deterministic decomposed suffix (the fixture is ASCII-
    clean), and the per-lang report proves the normalizer: every doc
    composes, the removed-code-point budget is exact (2 per doc), and
    min(md5(clean)) hash-verifies the full normalized BYTES against
    DuckDB's independent utf8proc implementation — a real
    cross-library NFC conformance check, not a self-comparison.

    Plan: the dirt concat is codegen'd; normalization runs as ONE
    Arrow-batched mapInPandas using pandas' vectorized
    Series.str.normalize (unicodedata under the hood — no row-at-a-
    time Python UDF); lengths, change flags, md5 and the per-lang
    hash agg all run JVM-side after the batch returns. At 100 TB:
    scan → Arrow pipe → |langs|-row exchange; the Python stage is
    compute-light (NFC quick-check passes >99% of real text without
    allocation), and this is the documented production posture for
    j100: native pass for high-frequency dirt first, NFC here."""
    import pandas as pd  # noqa: F401 — typing aid; pandas ships with the engine

    docs = load(spark, sf_dir, "documents")
    messy = widen(docs).select(
        "lang", F.concat(F.col("text"), F.lit(_NFC_DIRT)).alias("raw")
    )

    def nfc(batches):
        for pdf in batches:
            yield pdf.assign(clean=pdf["raw"].str.normalize("NFC"))

    norm = messy.mapInPandas(nfc, "lang string, raw string, clean string")
    changed = F.when(F.col("clean") != F.col("raw"), 1).otherwise(0)
    return norm.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(changed).cast("bigint").alias("docs_changed"),
        F.sum(F.length("raw") - F.length("clean")).cast("bigint").alias(
            "chars_removed"
        ),
        F.sum(F.length("clean")).cast("bigint").alias("sum_clean_len"),
        F.min(F.md5("clean")).alias("min_clean_md5"),
    )


# --------------------------------------------------------------- j120

KCENTER_K = 6  # centers selected by farthest-point traversal
KC_SCALE = 1000  # embedding quantizer (j97's posture)
_KC_D = 64  # embedding dimensionality (fixture contract, TESTDATA.md)


_DUCK_KC_SQ = (
    f"CAST(list_sum(list_transform(range(1, {_KC_D + 1}), "
    "i -> (p.q[i] - c.q[i]) * (p.q[i] - c.q[i]))) AS BIGINT)"
)


def _duck_kcenter_parts() -> list[str]:
    """Unrolled farthest-point traversal (j21's unrolled-CTE posture):
    center 0 is the min vec_id; center k is the point maximizing the
    exact integer min-squared-distance to centers 0..k-1 (ties to the
    smaller vec_id). All arithmetic is quantized BIGINT, so both
    engines select identical points. Returns the CTE part list up to
    cents{{K-1}} — shared by j120 (the selection report) and j123
    (the coverage assignment)."""
    sq = _DUCK_KC_SQ
    parts = [
        f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {KC_SCALE})
                                      AS BIGINT)) AS q
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(0 AS INT) AS center_order, vec_id, q,
             CAST(0 AS BIGINT) AS sq_dist
      FROM q WHERE vec_id = (SELECT min(vec_id) FROM q)
    ),
    cents0 AS (SELECT * FROM c0)"""
    ]
    for k in range(1, KCENTER_K):
        parts.append(
            f"""m{k} AS (
      SELECT p.vec_id, p.q, min({sq}) AS d
      FROM q p, cents{k - 1} c GROUP BY p.vec_id, p.q
    ),
    c{k} AS (
      SELECT CAST({k} AS INT) AS center_order, vec_id, q, d AS sq_dist
      FROM m{k} ORDER BY d DESC, vec_id LIMIT 1
    ),
    cents{k} AS (SELECT * FROM cents{k - 1} UNION ALL SELECT * FROM c{k})"""
        )
    return parts


def _duck_kcenter_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_duck_kcenter_parts())
        + f"\n    SELECT center_order, vec_id, sq_dist FROM cents{KCENTER_K - 1}"
    )


@query("j120_kcenter_coreset", oracle=_duck_kcenter_oracle())
def j120_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset by farthest-point traversal (greedy k-center,
    the 2-approximation) over the corpus embedding table — the
    selection pass behind diversity sampling, exemplar picking for
    labeling budgets, and coverage-radius diagnostics ("how far is
    the farthest document from its nearest exemplar?"). Center 0 is
    the min vec_id (deterministic seed); center k maximizes the exact
    min-squared-distance to the chosen set, ties to the smaller
    vec_id. Output: {KCENTER_K} rows (selection order, vec_id, the
    selection-time distance — a nonincreasing sequence that IS the
    coverage-radius curve).

    Exactness trick (j97/j21's posture): embeddings quantize to
    BIGINT first, every distance is an order-free integer HOF fold
    (≤64·(2·{KC_SCALE})² « 2^63), so the argmax — and therefore the
    whole traversal — is bit-identical in both engines; the oracle
    unrolls the {KCENTER_K} steps as CTEs (j21's pattern).

    Plan: NO driver-side math (j21's discipline), in the INCREMENTAL
    running-min form (the textbook distributed k-center state): the
    per-point state (vec_id, q, min-distance-to-chosen-set) is
    materialized per step; each step is ONE broadcast of the single
    newest center folded in via least(), then a 1-row max(struct)
    argmax — never a re-scan against the whole center table (the
    naive form re-paid k distance evaluations per point at step k;
    measured ~2× wall-clock at fixture scale). At 100 TB each step is
    one scan of the state + one scalar exchange; K steps total, K
    fixed and small. The classic scale upgrade (pre-clustered
    candidate pools per partition) changes the candidate set, not
    this plan shape."""
    q, centers = _kcenter_traverse(spark, sf_dir)
    return centers.select("center_order", "vec_id", "sq_dist")


_KC_SQD = lambda qcol, ccol: F.aggregate(  # noqa: E731 — shared distance fold
    F.zip_with(qcol, ccol, lambda a, b: (a - b) * (a - b)),
    F.lit(0).cast("long"),
    lambda acc, x: acc + x,
)


def _kcenter_traverse(spark: SparkSession, sf_dir: str):
    """The shared farthest-point traversal: returns (q, centers) —
    the materialized quantized point table (vec_id, q) and the
    materialized selected-center table (center_order, vec_id, q,
    sq_dist). j120 reports the selection; j123 assigns the corpus to
    it."""
    from json2hbase_spark.io import load, widen
    from json2hbase_spark.materialize import materialize

    emb = load(spark, sf_dir, "embeddings")
    q = materialize(
        widen(emb).select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * KC_SCALE).cast("long"),
            ).alias("q"),
        )
    )
    sqd = _KC_SQD("q", "cq")

    def fold_center(state: DataFrame, center: DataFrame) -> DataFrame:
        # state (vec_id, q, mind) with the new center's distance
        # folded in via least() — one broadcast pass.
        return state.crossJoin(F.broadcast(center.select(F.col("q").alias("cq")))).select(
            "vec_id", "q", F.least("mind", sqd).alias("mind")
        )

    seed = q.orderBy("vec_id").limit(1)
    centers = materialize(
        seed.select(
            F.lit(0).cast("int").alias("center_order"),
            "vec_id",
            "q",
            F.lit(0).cast("bigint").alias("sq_dist"),
        )
    )
    state = materialize(
        fold_center(q.select("vec_id", "q", F.lit(None).cast("long").alias("mind")), seed)
    )
    for k in range(1, KCENTER_K):
        pick = (
            state.agg(
                F.max(F.struct(F.col("mind"), (-F.col("vec_id")).alias("nv"))).alias("s")
            ).select(
                (-F.col("s.nv")).alias("vec_id"),
                F.col("s.mind").cast("bigint").alias("sq_dist"),
            )
        )
        newc = materialize(
            pick.join(q, "vec_id").select(
                F.lit(k).cast("int").alias("center_order"), "vec_id", "q", "sq_dist"
            )
        )
        # lazy union — every branch is already materialized (seed and
        # each newc), so the final centers table needs no extra cut
        centers = centers.unionByName(newc)
        if k < KCENTER_K - 1:
            state = materialize(fold_center(state, newc))
    return q, centers


# --------------------------------------------------------------- j121

POWER_ITERS = 5  # matvec iterations, unrolled in the oracle (j21's posture)
MATPOW_SQUARINGS = 4  # iterate with A^(2^4)=A^16: 5 matvecs ≈ 80 plain ones
_PI_S = 1_000  # per-iteration vector renormalization scale
_PI_A = 1_000_000  # matrix entry scale between squarings
PCA_R = 4  # principal directions j127 reports
# Overflow margins with the rescale discipline: matrix entries are
# renormalized to ≤ {_PI_A} after construction and after every
# squaring, so a matmul term is ≤ 1e12 and its 64-term sum ≤ 6.4e13;
# a matvec term is ≤ 1e9 and its sum ≤ 6.4e10 — both orders of
# magnitude inside int64. The construction itself carries j97's
# silent-wrap guard (2·n²·qmax² < 2^63 per upper-triangle row).

_DUCK_COV_S = f"""
    q AS (
      SELECT list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT))
               AS q
      FROM embeddings
    ),
    p AS (
      SELECT i.i AS i, j.j AS j,
             q.q[i.i + 1] AS qi, q.q[j.j + 1] AS qj
      FROM q,
           LATERAL (SELECT unnest(range(len(q.q))) AS i) i,
           LATERAL (SELECT unnest(range(len(q.q))) AS j) j
      WHERE j.j >= i.i
    ),
    s AS (
      SELECT i, j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qi * qj) AS BIGINT) AS sxy,
             CAST(SUM(qi) AS BIGINT) AS sx,
             CAST(SUM(qj) AS BIGINT) AS sy
      FROM p GROUP BY i, j
    )"""


def _duck_power_parts() -> list[str]:
    parts = [
        _DUCK_COV_S,
        # a0/r*/m* are MATERIALIZED: DuckDB inlines plain CTEs, and
        # each is referenced by every later unrolled stage — without
        # the hint the corpus-sized pair aggregation underneath
        # re-evaluates once per reference (measured 25 s → 0.2 s at
        # sf0.001).
        """a0 AS MATERIALIZED (
      SELECT i, j, n * sxy - sx * sy AS cov FROM s
      UNION ALL
      SELECT j, i, n * sxy - sx * sy FROM s WHERE i != j
    ),
    e0 AS (SELECT greatest(CAST(max(abs(cov)) AS BIGINT) // """
        + str(_PI_A)
        + """, 1) AS d FROM a0),
    m0 AS MATERIALIZED (
      SELECT i, j, CAST(floor(CAST(cov AS DOUBLE) / d) AS BIGINT) AS cov
      FROM a0, e0
    )""",
    ]
    for t in range(1, MATPOW_SQUARINGS + 1):
        parts.append(
            f"""sq{t} AS (
      SELECT x.i AS i, y.j AS j, CAST(SUM(x.cov * y.cov) AS BIGINT) AS cov
      FROM m{t - 1} x JOIN m{t - 1} y ON x.j = y.i GROUP BY x.i, y.j
    ),
    e{t} AS (SELECT greatest(CAST(max(abs(cov)) AS BIGINT) // {_PI_A}, 1) AS d
             FROM sq{t}),
    m{t} AS MATERIALIZED (
      SELECT i, j, CAST(floor(CAST(cov AS DOUBLE) / d) AS BIGINT) AS cov
      FROM sq{t}, e{t}
    )"""
        )
    A = f"m{MATPOW_SQUARINGS}"
    parts.append(
        f"v0 AS (SELECT DISTINCT i AS dim, CAST({_PI_S} AS BIGINT) AS v FROM {A})"
    )
    for t in range(1, POWER_ITERS + 1):
        parts.append(
            f"""w{t} AS (
      SELECT a.i AS dim, CAST(SUM(a.cov * v.v) AS BIGINT) AS w
      FROM {A} a JOIN v{t - 1} v ON v.dim = a.j GROUP BY a.i
    ),
    d{t} AS (SELECT greatest(CAST(max(abs(w)) AS BIGINT) // {_PI_S}, 1) AS d
             FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT dim, CAST(floor(CAST(w AS DOUBLE) / d) AS BIGINT) AS v
      FROM w{t}, d{t}
    )"""
        )
    last = POWER_ITERS
    parts.append(
        f"""wmax AS (SELECT CAST(max(abs(w)) AS BIGINT) AS w_max FROM w{last}),
    sgn AS (SELECT CASE WHEN v >= 0 THEN 1 ELSE -1 END AS sg
            FROM v{last} ORDER BY abs(v) DESC, dim ASC LIMIT 1)"""
    )
    return parts


def _duck_power_oracle() -> str:
    last = POWER_ITERS
    return (
        "WITH "
        + ",\n    ".join(_duck_power_parts())
        + f"""
    SELECT CAST(f.dim AS INT) AS dim,
           CAST(f.v * sgn.sg AS BIGINT) AS v,
           wmax.w_max
    FROM v{last} f, sgn, wmax"""
    )


@query("j121_embed_top_eigvec", oracle=_duck_power_oracle())
def j121_embed_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the corpus embedding cloud by POWER
    ITERATION over j97's exact integer covariance — the anisotropy
    diagnostic ("is the embedding space collapsing onto one axis?")
    and the input to common-direction removal (the all-but-the-top
    post-processing trick) and 1-D PCA ordering. {POWER_ITERS} fixed
    matvec iterations; after each, the vector renormalizes to scale
    {_PI_S} by integer division; the final sign is fixed by making
    the largest-|component| coordinate positive (ties to the lower
    dim). Output: 64 rows (dim, eigvec component at scale {_PI_S},
    plus the final iterate's max|A·v| — the unnormalized eigenvalue
    proxy in rescaled-matrix units, an exact BIGINT shared by every
    row).

    CONVERGENCE by matrix-power acceleration: a flat spectrum (the
    fixture reads λ2/λ1 ≈ 0.93, which plain power iteration needs
    ~65 steps to separate) is handled by iterating with A^(2^
    {MATPOW_SQUARINGS}) = A^16 — {MATPOW_SQUARINGS} squarings of the
    64×64 matrix, d³ multiply-adds each, with the entries renormalized
    to scale {_PI_A} after construction and after every squaring. {POWER_ITERS} matvecs against A^16 ≈ 80
    plain iterations: (0.93)^80 ≈ 0.003 residual.

    Exactness: the covariance entries are j97's order-free exact
    BIGINTs (n·Σxy − Σx·Σy, silent-wrap guarded per row); the rescale
    discipline bounds every matmul term at {_PI_A}²·d ≈ 6.4e13 and
    every matvec term at {_PI_A}·{_PI_S}·d ≈ 6.4e10 — orders of
    magnitude inside int64 — so every iterate is bit-identical in
    the driver chain and the oracle (the one double step, floor(x/d),
    applies IEEE-identical operations to identical inputs). The oracle
    unrolls squarings AND iterations as CTEs (j21's pattern).

    Plan: the covariance is one pair-explode hash agg (j97's shape —
    shuffle bounded at d(d+1)/2 rows regardless of corpus size),
    collected to the driver; the squarings and matvecs run there in
    exact Python integers (_pca). At 100 TB only the covariance pass
    touches the corpus; the iteration cost is
    O(d³·{MATPOW_SQUARINGS} + d²·{POWER_ITERS}) — constant."""
    v, wmax = _power_eigvec(spark, sf_dir, refresh=True)
    return (
        v.crossJoin(F.broadcast(wmax)).select(
            F.col("dim").cast("int").alias("dim"),
            F.col("v").cast("bigint").alias("v"),
            "w_max",
        )
    )


def _cov_matrix(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """The exact integer covariance as a d×d list of rows: the one
    corpus pass of the PCA chain, j97's construction with its
    silent-wrap guard, collected as its d(d+1)/2 upper-triangle terms."""
    s = _cov_terms(spark, sf_dir)
    # j97's silent-wrap guard: the two subtracted construction terms
    # can reach 2·n²·qmax² with opposite signs.
    guard = (
        F.pow(F.col("n").cast("double"), 2) * F.pow(F.col("_qmax").cast("double"), 2)
        < F.lit(4.5e18)
    )
    s = s.where(
        F.assert_true(
            guard, F.lit("j121: n²·qmax² near int64 — two-pass centered form needed")
        ).isNull()
    )
    terms = s.select(
        "i", "j", (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov")
    ).collect()
    d = 1 + max(r["i"] for r in terms)
    a = [[0] * d for _ in range(d)]
    for i, j, cov in terms:
        a[i][j] = a[j][i] = cov
    return a


def _pca(spark: SparkSession, sf_dir: str, refresh: bool = False):
    """The PCA chain behind j121, j127 and j145: (components, basis).
    ``components`` holds PCA_R (signed vector, w_max) pairs from power
    iteration against A^(2^MATPOW_SQUARINGS), each after Hotelling
    deflation of the ones before; component 0 is j121's eigvec.
    ``basis`` is the Gram-Schmidt orthogonalization of the components.

    Only the covariance pass touches the corpus. Everything after it
    works on at most d² entries, a size the embedding dimension fixes,
    so it runs on the driver in exact Python integers
    (functions/intmat.py), bit for bit the oracles' SQL arithmetic.
    Held in the session memo as ``"pca"``; the definers j121, j127 and
    j145 pass refresh=True."""

    def compute():
        a = intmat.rescale(_cov_matrix(spark, sf_dir), _PI_A)
        for _ in range(MATPOW_SQUARINGS):
            a = intmat.rescale(intmat.matmul(a, a), _PI_A)
        components = []
        for c in range(PCA_R):
            components.append(intmat.power_on(a, _PI_S, POWER_ITERS))
            if c < PCA_R - 1:
                a = intmat.deflate(a, components[c][0], _PI_A)
        basis = intmat.gram_schmidt([v for v, _ in components], _PI_S)
        return components, basis

    return memo.cached(spark, sf_dir, "pca", compute, refresh)


def _power_eigvec(spark: SparkSession, sf_dir: str, refresh: bool = False):
    """j121's eigvec as local relations (v_signed, wmax): the 64-row
    signed eigvec table (dim, v) at scale _PI_S and a 1-row (w_max)
    table. Reused by j122's common-direction removal, j128's
    whitening, j133's residual energy, i36's streaming energy monitor
    and j139's whitened PQ."""
    components, _ = _pca(spark, sf_dir, refresh)
    return _eigvec_frames(spark, *components[0])


def _eigvec_frames(spark: SparkSession, v: list[int], wm: int):
    """A component as local relations: (dim, v) rows and a 1-row w_max."""
    return (
        spark.createDataFrame(list(enumerate(v)), "dim INT, v BIGINT"),
        spark.createDataFrame([(wm,)], "w_max BIGINT"),
    )


# --------------------------------------------------------------- j122


def _duck_common_dir_oracle() -> str:
    last = POWER_ITERS
    parts = _duck_power_parts()
    parts.append(
        f"""evl AS (
      SELECT list(e.v * sgn.sg ORDER BY e.dim) AS v
      FROM v{last} e, sgn GROUP BY sgn.sg
    ),
    vv AS (SELECT CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)
             AS vv FROM evl),
    ql AS (
      SELECT label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE})
                                      AS BIGINT)) AS q
      FROM embeddings
    ),
    dots AS (
      SELECT label,
             CAST(list_sum(list_transform(ql.q, x -> x * x)) AS BIGINT) AS qq,
             CAST(list_sum(list_transform(range(1, 65),
                                          i -> ql.q[i] * evl.v[i])) AS BIGINT)
               AS qv
      FROM ql, evl
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT CAST(d.label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d.qq) AS BIGINT) AS sum_qq,
           round(CAST(SUM(CAST(d.qv * d.qv AS DECIMAL(38,0))) AS DOUBLE)
                 / (CAST(vv.vv AS DOUBLE) * CAST(SUM(d.qq) AS DOUBLE)),
                 6) AS share_top
    FROM dots d, vv GROUP BY d.label, vv.vv"""
    )


@query("j122_common_dir_removal", oracle=_duck_common_dir_oracle())
def j122_common_dir_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-direction energy audit — j121's top eigenvector APPLIED
    (the detect→apply pattern of j111→j116): for every embedding,
    the energy its projection onto the corpus' dominant direction
    carries, rolled up per label as share_top = Σ(q·v)² / (|v|²·Σ|q|²)
    — by Pythagoras exactly the fraction of squared norm that
    "remove the top component" (the all-but-the-top anisotropy fix)
    would delete. A label whose share_top is high rides the common
    axis (its cosine similarities are inflated corpus-wide); the
    table says which labels the removal will move most, BEFORE
    rewriting any vectors.

    Exactness: q and v are the established quantized integers; q·v
    and q·q are order-free BIGINT HOF folds (|q·v| ≤ 64e6, (q·v)² ≤
    4.2e15); the (q·v)² per-label sum crosses the wire as an exact
    DECIMAL(38,0) (functions/exact.py's convention); the one double
    division happens after all exact sums. Oracle = j121's unrolled
    CTE chain + the projection arithmetic.

    Plan: the eigvec collapses to ONE 64-element array broadcast into
    a per-row codegen'd fold — the corpus pass is scan-bound with a
    |labels|-row exchange; the eigvec itself costs j121's constant
    post-covariance iteration. At 100 TB: one corpus scan on top of
    the covariance pass the anisotropy audit already paid."""
    from json2hbase_spark.io import load, widen

    v_signed, _ = _power_eigvec(spark, sf_dir)
    evl = v_signed.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "v"))), lambda x: x["v"]
        ).alias("v")
    )
    emb = load(spark, sf_dir, "embeddings")
    ql = widen(emb).select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * COV_SCALE).cast("long"),
        ).alias("q"),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    dots = ql.crossJoin(F.broadcast(evl)).select(
        "label",
        fold(F.zip_with("q", "q", lambda a, b: a * b)).alias("qq"),
        fold(F.zip_with("q", "v", lambda a, b: a * b)).alias("qv"),
    )
    vv = evl.select(
        fold(F.zip_with("v", "v", lambda a, b: a * b)).cast("bigint").alias("vv")
    )
    return (
        dots.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("qq").cast("bigint").alias("sum_qq"),
            F.sum((F.col("qv") * F.col("qv")).cast("decimal(38,0)")).alias("_top"),
        )
        .crossJoin(F.broadcast(vv))
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vecs",
            "sum_qq",
            F.round(
                F.col("_top").cast("double")
                / (F.col("vv").cast("double") * F.col("sum_qq").cast("double")),
                6,
            ).alias("share_top"),
        )
    )


# --------------------------------------------------------------- j123


def _duck_coreset_coverage_oracle() -> str:
    parts = _duck_kcenter_parts()
    parts.append(
        f"""dists AS (
      SELECT p.vec_id, c.center_order, {_DUCK_KC_SQ} AS d
      FROM q p, cents{KCENTER_K - 1} c
    ),
    asg AS (
      SELECT vec_id, center_order, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, center_order) AS rn
        FROM dists) t WHERE rn = 1
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT center_order,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(MAX(d) AS BIGINT) AS max_sq_dist,
           CAST(SUM(d) AS BIGINT) AS sum_sq_dist,
           round(CAST(SUM(d) AS DOUBLE) / COUNT(*), 4) AS mean_sq_dist
    FROM asg GROUP BY center_order"""
    )


@query("j123_coreset_coverage", oracle=_duck_coreset_coverage_oracle())
def j123_coreset_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset coverage report — j120's selection APPLIED: every
    corpus embedding assigned to its nearest chosen exemplar (exact
    integer distances, ties to the earlier-selected center), rolled
    up per center: occupancy, the cell's worst-case distance (the
    per-cell coverage radius — its max over centers is the k-center
    objective), and the exact-integer mean. This is the table that
    says whether the coreset actually covers the corpus (one center
    hoarding 90% of points means K is too small) and which exemplar
    each new labeling dollar should go to.

    Plan: ONE broadcast crossJoin of the corpus against the
    {KCENTER_K}-row center table (never point×point), a min(struct)
    argmin per point, and a K-row hash agg. At 100 TB this is the
    standard assign step everyone already runs after any exemplar
    selection — scan-bound, one bounded exchange."""
    q, centers = _kcenter_traverse(spark, sf_dir)
    d = q.crossJoin(
        F.broadcast(centers.select("center_order", F.col("q").alias("cq")))
    ).select("vec_id", "center_order", _KC_SQD("q", "cq").alias("d"))
    asg = (
        d.groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d"), F.col("center_order"))).alias("s"))
        .select(F.col("s.center_order").alias("center_order"), F.col("s.d").alias("d"))
    )
    return asg.groupBy("center_order").agg(
        F.count("*").cast("bigint").alias("n_assigned"),
        F.max("d").cast("bigint").alias("max_sq_dist"),
        F.sum("d").cast("bigint").alias("sum_sq_dist"),
        F.round(F.sum("d").cast("double") / F.count("*"), 4).alias("mean_sq_dist"),
    )


# --------------------------------------------------------------- j132

INC_WINNOW_CUT = 250  # doc_id < CUT = persisted corpus (j24's convention)
INC_WINNOW_TAU = 0.3  # containment fraction that flags a new doc


def _duck_incremental_winnow_oracle() -> str:
    return f"""
    WITH {_DUCK_WINNOW_SEL},
    inc AS (SELECT doc_id, fh FROM sel WHERE doc_id >= {INC_WINNOW_CUT}),
    idx AS (SELECT DISTINCT fh, doc_id AS corpus_doc FROM sel
            WHERE doc_id < {INC_WINNOW_CUT}),
    nfp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM inc GROUP BY doc_id),
    hits AS (
      SELECT i.doc_id, i.fh, x.corpus_doc
      FROM inc i JOIN idx x ON x.fh = i.fh
    ),
    contained AS (
      SELECT doc_id, CAST(COUNT(DISTINCT fh) AS BIGINT) AS n_contained
      FROM hits GROUP BY doc_id
    ),
    per_pair AS (
      SELECT doc_id, corpus_doc, CAST(COUNT(DISTINCT fh) AS BIGINT) AS n_shared
      FROM hits GROUP BY doc_id, corpus_doc
    ),
    best AS (
      SELECT doc_id, corpus_doc AS best_match, n_shared AS n_shared_best FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY n_shared DESC, corpus_doc) AS rn
        FROM per_pair) WHERE rn = 1
    )
    SELECT n.doc_id AS new_doc, n.n_fp, c.n_contained,
           round(CAST(c.n_contained AS DOUBLE) / n.n_fp, 4) AS containment,
           b.best_match, b.n_shared_best
    FROM nfp n JOIN contained c ON c.doc_id = n.doc_id
    JOIN best b ON b.doc_id = n.doc_id
    WHERE CAST(c.n_contained AS DOUBLE) / n.n_fp >= {INC_WINNOW_TAU}
    """


@query("j132_incremental_winnow", oracle=_duck_incremental_winnow_oracle())
def j132_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL winnowing containment — j24's asymmetric
    batch-vs-corpus posture at j99's fingerprint grain (SURVEY's
    round-10 candidate): an incoming batch (doc_id ≥ {INC_WINNOW_CUT})
    is winnow-fingerprinted and probed against the EXISTING corpus
    fingerprint index; per new doc, the CONTAINMENT fraction (its
    fingerprints already present anywhere in the corpus — the
    substring-reuse signal Jaccard misses when a small doc is
    swallowed by a big one) plus the best-matching corpus doc by
    shared-fingerprint count (ties to the lower doc_id). A doc at
    containment 1.0 is a full copy/quote of corpus material even if
    its overall Jaccard is low; ≥ {INC_WINNOW_TAU} is the review
    queue. Complements i33 (banded whole-doc gate at ingest) with the
    sub-document containment the winnow guarantee gives (any shared
    run ≥ W+K−1 = 23 chars leaves a shared fingerprint).

    Plan: ONE winnow selection pass serves both slices
    (_winnow_selected is materialized; at 100 TB the corpus side is
    the PERSISTED fingerprint index — only the new batch fingerprints
    per run, j24's reason to exist), then one fh-keyed equi join of
    the new batch's fingerprints against the index, two hash aggs
    and one bounded per-newdoc argmax window. The fh join shuffles
    fingerprints (~2/(W+1) of gram volume), never text."""
    sel = _winnow_selected(spark, sf_dir)
    inc = sel.filter(F.col("doc_id") >= INC_WINNOW_CUT).select("doc_id", "fh")
    idx = (
        sel.filter(F.col("doc_id") < INC_WINNOW_CUT)
        .select("fh", F.col("doc_id").alias("corpus_doc"))
        .distinct()
    )
    from json2hbase_spark.materialize import materialize

    nfp = inc.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_fp"))
    # two consumers (containment agg + per-pair argmax) read the hit
    # set — materialize so the fh join runs once
    hits = materialize(inc.join(idx, "fh"))
    contained = hits.groupBy("doc_id").agg(
        F.countDistinct("fh").cast("bigint").alias("n_contained")
    )
    per_pair = hits.groupBy("doc_id", "corpus_doc").agg(
        F.countDistinct("fh").cast("bigint").alias("n_shared")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_shared"), F.asc("corpus_doc"))
    best = (
        per_pair.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("corpus_doc").alias("best_match"),
            F.col("n_shared").alias("n_shared_best"),
        )
    )
    return (
        nfp.join(contained, "doc_id")
        .join(best, "doc_id")
        .filter(F.col("n_contained").cast("double") / F.col("n_fp") >= INC_WINNOW_TAU)
        .select(
            F.col("doc_id").alias("new_doc"),
            "n_fp",
            "n_contained",
            F.round(F.col("n_contained").cast("double") / F.col("n_fp"), 4).alias(
                "containment"
            ),
            "best_match",
            "n_shared_best",
        )
    )
