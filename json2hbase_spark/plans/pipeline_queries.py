"""Training-run preparation operators (round 4c): deterministic global
shuffle/sharding (j62), character-entropy quality filtering (j63),
DSIR importance resampling (j64), the engine-reproducible sketch
quartet — Bloom membership (j65), Count-Min frequency (j66), KMV
distinct (j67), priority-sample quantiles (j70) — plus the additive
corpus content digest (j68, streamed as i25, write-verified as a24)
and the n-gram novelty screen (j69).

These close the gap between "a cleaned corpus" (the j1–j61 family) and
"data a trainer can actually consume": the corpus must be globally
shuffled into reproducible shards, junk cut, the mixture tilted toward
a target without a model in the loop (DSIR, Xie et al. 2023), and
every artifact cheap to re-verify. The sketch quartet's common trick:
derive all randomness from md5, so DuckDB rebuilds the identical
sketch and the oracle checks the data structure itself — estimates
AND their measured errors are hash-gated, where the engine-private
equivalents (HLL h13, percentile_approx h9) can only get tolerance
bands.

Float conventions follow corpus_queries.py: ratios are built from
exact BIGINT numerators/denominators and divided once (a single IEEE
op, bit-identical cross-engine); ln/avg chains round to 4 like j31.
Every sampling / sharding decision is content-addressed (md5 of the
row key), never RNG-seeded — a rerun on any engine produces the
identical corpus, which tools/determinism_check.py enforces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark.io import load, widen
from json2hbase_spark.materialize import materialize
from json2hbase_spark.operators.text import whitespace_tokens
from json2hbase_spark.plans.corpus_queries import _DUCK_TOKS, _duck_ngrams, word_ngrams
from json2hbase_spark.registry import query

# ---------------------------------------------------------------- j62

SHUFFLE_SEED = "epoch0"  # content-address tag: new epoch => new permutation
N_SHARDS = 8


@query(
    "j62_global_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}') AS hkey
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, hkey,
             CAST(('0x' || substr(hkey, 1, 8))::BIGINT % {N_SHARDS} AS INTEGER)
               AS shard
      FROM keyed
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id)
                AS BIGINT) AS pos
    FROM sharded
    """,
)
def j62_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: every doc
    gets a content-addressed key md5(doc_id || epoch-tag), the top 32
    bits pick one of N_SHARDS shards, and the in-shard position is the
    rank of the full 128-bit key — a reproducible random permutation
    with NO RNG state, so any engine (and any rerun, and any subset of
    workers) derives the identical epoch order. New epoch = new seed
    tag, nothing to re-persist. Plan: one narrow map to key+shard,
    then exactly one hash exchange on shard feeding both the sort and
    the row_number — at 100 TB this is `repartition(shard) +
    sortWithinPartitions(hkey)` writing one shard per directory, and
    the shard count scales to thousands with the same two-stage plan.
    The window never sees more than one shard's rows per partition
    (contrast a global ORDER BY, which would funnel the corpus through
    a single range sort)."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))).alias(
            "hkey"
        ),
    )
    sharded = keyed.withColumn(
        "shard",
        (F.conv(F.substring("hkey", 1, 8), 16, 10).cast("long") % N_SHARDS).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


# ---------------------------------------------------------------- j63

ENTROPY_MIN = 3.5  # bits/char below which text is repetitive junk
LEN_MIN = 100


@query(
    "j63_entropy_filter",
    oracle=f"""
    WITH chars AS (
      SELECT d.doc_id, ascii(substr(d.text, i.i + 1, 1)) AS c
      FROM documents d,
           LATERAL (SELECT unnest(range(len(d.text))) AS i) i
      WHERE len(d.text) > 0
    ),
    freq AS (
      SELECT doc_id, c, COUNT(*) AS cnt FROM chars GROUP BY doc_id, c
    ),
    ent AS (
      SELECT f.doc_id,
             CAST(SUM(f.cnt) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
             round(-SUM((CAST(f.cnt AS DOUBLE) / d.n_chars)
                        * log2(CAST(f.cnt AS DOUBLE) / d.n_chars)), 4) + 0.0
               AS entropy
      FROM freq f JOIN documents d ON f.doc_id = d.doc_id
      GROUP BY f.doc_id, d.n_chars
    )
    SELECT doc_id, n_chars, n_distinct_chars, entropy,
           (entropy >= {ENTROPY_MIN} AND n_chars >= {LEN_MIN}) AS keep
    FROM ent
    """,
)
def j63_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate: per-doc Shannon entropy over
    the byte stream — the cheapest detector for the failure modes a
    unigram LM (j31) misses: repeated-character runs, template spam,
    base64/hex blobs (high char entropy but caught by the companion
    length gate), single-char padding. FineWeb/Gopher-class pipelines
    run exactly this signal before any model-based scoring. The
    per-char explode is a narrow map-side fan-out (widen() first so
    one parquet file doesn't serialize it); two hash aggregations
    ((doc,char) counts, then per-doc entropy) both partially aggregate
    map-side, so the shuffled payload is ≤ |alphabet| rows per doc,
    not |text|. Entropy divides exact BIGINT counts by the stored
    n_chars once per term and rounds to 4 after the sum (the j31
    convention). At 100 TB this is the same two-stage plan; nothing
    holds a whole document's chars in one state."""
    docs = load(spark, sf_dir, "documents")
    chars = (
        widen(docs)
        .filter(F.length("text") > 0)
        .select("doc_id", "n_chars", "text")
        .select(
            "doc_id",
            "n_chars",
            # split on the zero-width between-chars pattern; limit -1
            # keeps a trailing "" (the end-of-input match) — drop it
            F.explode(F.filter(F.split(F.col("text"), "(?!^)"), lambda c: c != "")).alias(
                "ch"
            ),
        )
        .select("doc_id", "n_chars", F.ascii("ch").alias("c"))
    )
    freq = chars.groupBy("doc_id", "n_chars", "c").agg(F.count("*").alias("cnt"))
    p = F.col("cnt").cast("double") / F.col("n_chars")
    ent = freq.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        # + 0.0 normalizes IEEE -0.0 (a one-distinct-char doc rounds
        # to -0.0 in Spark, 0.0 in DuckDB's repr — strict hash differs)
        (F.round(-F.sum(p * F.log2(p)), 4) + F.lit(0.0)).alias("entropy"),
    )
    return ent.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        "entropy",
        ((F.col("entropy") >= ENTROPY_MIN) & (F.col("n_chars") >= LEN_MIN)).alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------- j64

DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"
DSIR_KEEP = 100


def dsir_scored_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized per-doc DSIR scoring plan — split out so
    tests/plan audits can inspect its physical shape (broadcast ratio
    join, no explode re-run, ≤3 wide exchanges); j64 materializes it
    because the threshold branch and the final projection both consume
    it."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", "lang", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    bucketed = toks.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long") % DSIR_BUCKETS)
        .cast("int")
        .alias("b"),
    )
    doc_hist = materialize(
        bucketed.groupBy("doc_id", "lang", "b").agg(F.count("*").alias("c"))
    )
    hist = doc_hist.groupBy("b").agg(
        F.sum("c").cast("bigint").alias("raw_cnt"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("tgt_cnt"),
    )
    tot = hist.agg(
        F.sum("raw_cnt").cast("bigint").alias("raw_n"),
        F.sum("tgt_cnt").cast("bigint").alias("tgt_n"),
    )
    ratios = hist.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            ((F.col("tgt_cnt") + 1) * (F.col("raw_n") + DSIR_BUCKETS)).cast("double")
            / ((F.col("raw_cnt") + 1) * (F.col("tgt_n") + DSIR_BUCKETS)).cast("double")
        ).alias("logr"),
    )
    return (
        doc_hist.join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_toks"),
            # + 0.0 normalizes IEEE -0.0 (observed: an all-neutral-
            # bucket doc averages to a tiny negative, rounds to -0.0
            # in Spark but 0.0 in DuckDB — strict repr-hash differs)
            (F.round(F.sum(F.col("c") * F.col("logr")) / F.sum("c"), 4) + F.lit(0.0))
            .alias("importance"),
        )
    )


@query(
    "j64_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT d.doc_id, t.tok
      FROM documents d,
           LATERAL (SELECT unnest(list_filter(string_split(d.text, ' '),
                                              x -> x != '')) AS tok) t
    ),
    bucketed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % {DSIR_BUCKETS}
                  AS INTEGER) AS b
      FROM toks
    ),
    doc_hist AS (
      SELECT bk.doc_id, d.lang, bk.b, COUNT(*) AS c
      FROM bucketed bk JOIN documents d ON bk.doc_id = d.doc_id
      GROUP BY bk.doc_id, d.lang, bk.b
    ),
    hist AS (
      SELECT b,
             CAST(SUM(c) AS BIGINT) AS raw_cnt,
             CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END)
                  AS BIGINT) AS tgt_cnt
      FROM doc_hist GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(raw_cnt) AS BIGINT) AS raw_n,
             CAST(SUM(tgt_cnt) AS BIGINT) AS tgt_n
      FROM hist
    ),
    ratios AS (
      SELECT h.b,
             ln(CAST((h.tgt_cnt + 1) * (t.raw_n + {DSIR_BUCKETS}) AS DOUBLE)
                / CAST((h.raw_cnt + 1) * (t.tgt_n + {DSIR_BUCKETS}) AS DOUBLE))
               AS logr
      FROM hist h, tot t
    ),
    scored AS (
      SELECT dh.doc_id,
             CAST(SUM(dh.c) AS BIGINT) AS n_toks,
             round(SUM(dh.c * ra.logr) / SUM(dh.c), 4) + 0.0 AS importance
      FROM doc_hist dh JOIN ratios ra ON dh.b = ra.b
      GROUP BY dh.doc_id
    )
    SELECT doc_id, n_toks, importance,
           (ROW_NUMBER() OVER (ORDER BY importance DESC, doc_id)
              <= {DSIR_KEEP}) AS selected
    FROM scored
    """,
)

def j64_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): tilt the raw
    corpus toward a target distribution using only hashed-unigram
    bucket frequencies — no model in the loop. Each token hashes into
    one of {DSIR_BUCKETS} buckets; the per-bucket log-likelihood ratio
    ln(p_target/p_raw) (Laplace-smoothed) comes from two corpus-level
    aggregations, and a document's importance is its tokens' average
    log-ratio. Docs that look like the target (here: lang='en') score
    high; the top-K flag realizes the resample. Ratio floats are built
    as exact BIGINT cross-products divided once, so Spark and DuckDB
    agree bit-for-bit before the ln; per-doc scores are the
    count-weighted avg over the doc's ≤{DSIR_BUCKETS} bucket rows
    (identical value to a token-stream avg, but the sum has a bounded
    operand count on every engine). Plan: the corpus is exploded
    EXACTLY ONCE into a materialized per-(doc,bucket) count table
    (docs × ≤{DSIR_BUCKETS} rows — without the cut, every derived
    total re-runs the explode: 5 corpus passes); the 64-row histogram,
    its totals, and the log-ratios all reduce from that table, the
    ratio table broadcasts back onto it, and the only corpus-sized
    exchanges are the doc_hist agg and the per-doc score agg. The
    final top-K flag needs NO global rank: a TakeOrdered top-K (per-
    partition top-K + merge, never a full sort) is reduced to the
    1-row K-th-place threshold, broadcast, and every doc compares its
    (importance DESC, doc_id) key against it — identical flag
    semantics to row_number()<=K because the key is unique, with no
    single-partition window anywhere."""
    # materialized: consumed twice (the K-th-place threshold and the
    # final flag projection) — without the cut the per-doc score agg
    # would run once per consumer
    scored = materialize(dsir_scored_plan(spark, sf_dir))
    # ascending twin of (importance DESC, doc_id ASC); importance is
    # +0.0-normalized above, so the negation can only mint -0.0, which
    # Spark comparisons treat as equal to 0.0
    ordkey = F.struct((-F.col("importance")).alias("ni"), F.col("doc_id").alias("di"))
    thr = (
        scored.orderBy(F.desc("importance"), "doc_id")
        .limit(DSIR_KEEP)
        .agg(F.max(ordkey).alias("thr"))
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_toks",
        "importance",
        (ordkey <= F.col("thr")).alias("selected"),
    )


# ---------------------------------------------------------------- j65

BLOOM_BITS = 2048  # m: total filter bits (64 x 32-bit words)
BLOOM_K = 3  # hash functions
_BLOOM_WORD = 32  # word width; 32 keeps 1<<bit positive in BIGINT


@query(
    "j65_bloom_dedup",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, lang,
             substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40)
               AS block
      FROM documents
    ),
    corpus AS (
      SELECT block FROM normed WHERE doc_id % 5 != 0
    ),
    build AS (
      SELECT ('0x' || substr(md5(c.block || ':' || k.k), 1, 8))::BIGINT
               % {BLOOM_BITS} AS pos
      FROM corpus c, (SELECT unnest(range({BLOOM_K})) AS k) k
    ),
    bitmap AS (
      SELECT pos // {_BLOOM_WORD} AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER))
               AS bits
      FROM build GROUP BY 1
    ),
    probe AS (
      SELECT n.doc_id, n.lang, n.block,
             ('0x' || substr(md5(n.block || ':' || k.k), 1, 8))::BIGINT
               % {BLOOM_BITS} AS pos
      FROM normed n, (SELECT unnest(range({BLOOM_K})) AS k) k
      WHERE n.doc_id % 5 = 0
    ),
    hits AS (
      SELECT p.doc_id, p.lang, p.block,
             (COALESCE(b.bits, 0)
              & (CAST(1 AS BIGINT) << CAST(p.pos % {_BLOOM_WORD} AS INTEGER)))
             != 0 AS hit
      FROM probe p LEFT JOIN bitmap b ON p.pos // {_BLOOM_WORD} = b.word
    ),
    cand AS (
      SELECT doc_id, lang, block, bool_and(hit) AS is_candidate
      FROM hits GROUP BY doc_id, lang, block
    ),
    confirmed AS (
      SELECT DISTINCT ca.doc_id
      FROM cand ca JOIN corpus c ON ca.block = c.block
      WHERE ca.is_candidate
    )
    SELECT ca.lang,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN ca.is_candidate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(COUNT(co.doc_id) AS BIGINT) AS n_confirmed,
           CAST(SUM(CASE WHEN ca.is_candidate THEN 1 ELSE 0 END)
                - COUNT(co.doc_id) AS BIGINT) AS n_false_pos
    FROM cand ca LEFT JOIN confirmed co ON ca.doc_id = co.doc_id
    GROUP BY ca.lang
    """,
)
def j65_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental dedup — the membership sketch that
    makes j24's incoming-vs-corpus check scale past what a broadcast
    hash SET can hold: the corpus' distinct blocking keys compact into
    an m-bit Bloom filter BUILT AS A DATAFRAME AGG (k md5-derived bit
    positions per key, explode, bit_or per 32-bit word → an m/32-row
    bitmap), the bitmap broadcasts to the incoming scan where
    might-contain is a map-side mask test, and only bloom-positive
    candidates pay the exact confirm join (broadcast of the candidate
    set over the corpus scan — the corpus never shuffles). The output
    counts candidates vs confirmed per lang, so the filter's
    false-positive rate is itself a measured, hash-checked artifact
    (m={BLOOM_BITS}, k={BLOOM_K} ⇒ a deliberately non-zero FP count
    at fixture scale). md5-derived positions make the bitmap
    bit-identical in any engine — DuckDB reproduces the sketch, not
    just the final answer. At 100 TB: m grows to ~2^33 (a 1 GiB
    broadcast), the build stays one explode + bit_or agg, and the
    probe stays scan-shaped; contrast c15, where Spark's runtime
    bloom does the same dance inside one join — this operator is the
    sketch as a REUSABLE, persistable artifact (build once per corpus
    snapshot, probe every incoming batch)."""
    docs = load(spark, sf_dir, "documents")
    normed = docs.select(
        "doc_id",
        "lang",
        F.substring(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 1, 40
        ).alias("block"),
    )
    # no distinct(): bit_or is idempotent, so duplicate blocks cost
    # nothing in the build and the corpus never shuffles corpus-wide
    corpus = normed.filter(F.col("doc_id") % 5 != 0).select("block")
    ks = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("k")

    def positions(df):
        """Append (word, mask) for each key's k bit positions."""
        pos = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("block"), F.lit(":"), F.col("k"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % BLOOM_BITS
        )
        cols = df.columns
        return df.select(*cols, pos.alias("pos")).select(
            *cols,
            (F.col("pos") / _BLOOM_WORD).cast("long").alias("word"),
            # shiftleft's numBits only takes a literal via the Python
            # API — go through expr for the column form
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
            ).alias("mask"),
        )

    build = positions(corpus.select("block", ks))
    bitmap = build.groupBy("word").agg(F.bit_or("mask").alias("bits"))
    probe = positions(
        normed.filter(F.col("doc_id") % 5 == 0).select("doc_id", "lang", "block", ks)
    )
    hits = probe.join(F.broadcast(bitmap), "word", "left").select(
        "doc_id",
        "lang",
        "block",
        (
            F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(F.col("mask"))
            != 0
        ).alias("hit"),
    )
    # incoming-batch-sized; the cut stops the confirm branch from
    # re-running the probe + bitmap build
    cand = materialize(
        hits.groupBy("doc_id", "lang", "block").agg(
            F.bool_and("hit").alias("is_candidate")
        )
    )
    confirmed = (
        corpus.join(
            F.broadcast(cand.filter("is_candidate").select("doc_id", "block")),
            "block",
        )
        .select("doc_id")
        .distinct()  # a block may repeat in the (non-distinct) corpus
        .withColumn("is_dup", F.lit(1))
    )
    return (
        cand.join(F.broadcast(confirmed), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_incoming"),
            F.sum(F.col("is_candidate").cast("int")).cast("bigint").alias(
                "n_candidates"
            ),
            F.count("is_dup").cast("bigint").alias("n_confirmed"),
            (
                F.sum(F.col("is_candidate").cast("int")) - F.count("is_dup")
            ).cast("bigint").alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------- j66

CMS_DEPTH = 4  # d: independent hash rows
CMS_WIDTH = 512  # w: counters per row
CMS_TOPK = 10  # report the exact top-K tokens' estimates


# words CTE delegates to corpus_queries' canonical tokenization so the
# two cannot silently diverge
_DUCK_BIGRAMS = f"""
    WITH words AS ({_DUCK_TOKS}),
    toks AS (
      SELECT doc_id, lang, unnest({_duck_ngrams('w', 2)}) AS tok
      FROM words WHERE len(w) >= 2
    )"""


@query(
    "j66_cms_heavy_hitters",
    oracle=_DUCK_BIGRAMS
    + f""",
    sketch AS (
      SELECT k.i,
             ('0x' || substr(md5(tok || '#' || k.i), 1, 8))::BIGINT
               % {CMS_WIDTH} AS col,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, (SELECT unnest(range({CMS_DEPTH})) AS i) k
      GROUP BY 1, 2
    ),
    exact_top AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM toks GROUP BY tok
      ORDER BY exact_cnt DESC, tok
      LIMIT {CMS_TOPK}
    ),
    est AS (
      SELECT e.tok, e.exact_cnt, MIN(s.cnt) AS est_cnt
      FROM exact_top e,
           (SELECT unnest(range({CMS_DEPTH})) AS i) k,
           sketch s
      WHERE s.i = k.i
        AND s.col = ('0x' || substr(md5(e.tok || '#' || k.i), 1, 8))::BIGINT
                    % {CMS_WIDTH}
      GROUP BY e.tok, e.exact_cnt
    )
    SELECT tok, exact_cnt, est_cnt,
           CAST(est_cnt - exact_cnt AS BIGINT) AS overestimate
    FROM est
    """,
)
def j66_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch as a DataFrame aggregation — the
    mergeable counter twin of j65's Bloom membership sketch: every
    token increments one counter per hash row (d={CMS_DEPTH},
    w={CMS_WIDTH}), a point estimate is the MIN across rows, and the
    sketch's one-sided error (est >= exact, always) is REPORTED per
    heavy hitter next to the exact count, so the accuracy/size
    trade-off is a measured, hash-checked artifact. Counter addition
    is associative/commutative, so map-side partial aggregation IS
    the sketch merge — the shuffle carries at most d·w counter rows
    per partition regardless of corpus size, and the same property
    makes per-shard sketches union-able at 100 TB (sum the bitmaps'
    counters, estimates stay valid). md5-derived columns keep the
    sketch bit-identical in any engine; DuckDB rebuilds it, not just
    the answers. The exact top-K (the thing a production pipeline
    would NOT have) exists purely to measure the sketch against.
    Sketched items are word BIGRAMS: the fixture's unigram vocab is
    ~31 tokens, which w={CMS_WIDTH} would represent exactly — bigrams
    (~1k+ distinct) put the sketch in a real collision regime where
    the overestimate column is non-trivially exercised."""
    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    toks = (
        widen(docs)
        .select(w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(F.explode(word_ngrams(F.col("w"), 2)).alias("tok"))
    )
    toks = materialize(toks.groupBy("tok").agg(F.count("*").alias("n")))
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("i")
    col = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("tok"), F.lit("#"), F.col("i"))), 1, 8),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )
    sketch = (
        toks.select("tok", "n", rows)
        .select("n", F.col("i"), col.alias("col"))
        .groupBy("i", "col")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
    )
    exact_top = (
        toks.orderBy(F.desc("n"), "tok")
        .limit(CMS_TOPK)
        .select("tok", F.col("n").cast("bigint").alias("exact_cnt"))
    )
    probe = exact_top.select("tok", "exact_cnt", rows).select(
        "tok", "exact_cnt", "i", col.alias("col")
    )
    est = (
        probe.join(F.broadcast(sketch), ["i", "col"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).cast("bigint").alias("overestimate"),
    )


# ---------------------------------------------------------------- j67

KMV_K = 256  # bottom-k sketch size


@query(
    "j67_kmv_distinct",
    oracle=_DUCK_BIGRAMS
    + f""",
    hashed AS (
      SELECT DISTINCT lang,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      FROM toks
    ),
    ranked AS (
      SELECT lang, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
      FROM hashed
    ),
    kmv AS (
      SELECT lang,
             MAX(CASE WHEN rk = {KMV_K} THEN h END) AS h_k,
             CAST(COUNT(*) AS BIGINT) AS n_seen
      FROM ranked WHERE rk <= {KMV_K}
      GROUP BY lang
    ),
    exact AS (
      SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
      FROM toks GROUP BY lang
    )
    SELECT e.lang, e.exact_distinct,
           CAST(CASE WHEN k.n_seen < {KMV_K} THEN k.n_seen
                ELSE floor(({KMV_K} - 1) * 4294967296 / k.h_k) END AS BIGINT)
             AS est_distinct
    FROM exact e JOIN kmv k ON e.lang = k.lang
    """,
)
def j67_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch per language — the
    engine-reproducible alternative to HLL (h13): keep the {KMV_K}
    smallest 32-bit hashes of the values seen; the k-th smallest
    estimates the distinct count as (k-1)·2³² / h_k (Bar-Yossef et
    al. 2002). Where HLL's register layout is implementation-private
    (DuckDB cannot replay Spark's sketch — h13 needs a tolerance
    band), KMV over md5 is pure integer arithmetic: BOTH engines
    build the identical sketch and the estimate hash-matches exactly,
    while the exact distinct count sits beside it so the error is a
    measured artifact. Bottom-k is a per-group window over the
    deduped hash set (vocab-bounded, never corpus-bounded); at 100 TB
    the sketch merges by unioning bottom-k sets and re-taking the
    bottom k — associative like j66's counters. Small-cardinality
    groups (n_seen < k) report the exact count, the standard KMV
    degenerate case. Counted items are word BIGRAMS (~900 distinct
    per lang, comfortably past k={KMV_K}) — the fixture's 31-token
    unigram vocab would hit the degenerate path everywhere."""
    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    toks = (
        widen(docs)
        .select("lang", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select("lang", F.explode(word_ngrams(F.col("w"), 2)).alias("tok"))
    )
    hashed = toks.select(
        "lang",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h"),
    ).distinct()
    w = Window.partitionBy("lang").orderBy("h")
    ranked = hashed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KMV_K
    )
    kmv = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("h_k"),
        F.count("*").cast("bigint").alias("n_seen"),
    )
    exact = toks.groupBy("lang").agg(
        F.countDistinct("tok").cast("bigint").alias("exact_distinct")
    )
    return exact.join(F.broadcast(kmv), "lang").select(
        "lang",
        "exact_distinct",
        # floor on BOTH engines: DuckDB's double->BIGINT cast rounds,
        # Spark's truncates — floor first makes them agree
        F.when(F.col("n_seen") < KMV_K, F.col("n_seen"))
        .otherwise(F.floor((F.lit(KMV_K - 1) * F.lit(4294967296)) / F.col("h_k")))
        .cast("bigint")
        .alias("est_distinct"),
    )


# ---------------------------------------------------------------- j72

OVERLAP_TOPK = 10


@query(
    "j72_source_overlap",
    oracle=f"""
    WITH words AS (
      SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT source, unnest({_duck_ngrams('w', 2)}) AS g
      FROM words WHERE len(w) >= 2
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    scored AS (
      SELECT p.src_a, p.src_b, sa.n AS n_a, sb.n AS n_b, p.n_inter,
             round(CAST(p.n_inter AS DOUBLE)
                   / (sa.n + sb.n - p.n_inter), 4) AS jacc
      FROM pairs p
      JOIN sizes sa ON p.src_a = sa.source
      JOIN sizes sb ON p.src_b = sb.source
    )
    SELECT src_a, src_b, n_a, n_b, n_inter, jacc
    FROM scored
    ORDER BY jacc DESC, src_a, src_b
    LIMIT {OVERLAP_TOPK}
    """,
)
def j72_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source redundancy matrix: bigram-profile Jaccard between
    every pair of sources, top-{OVERLAP_TOPK} most-overlapping pairs —
    the corpus-composition question ('which feeds are re-crawls /
    mirrors of each other?') answered BEFORE doc-level dedup, steering
    which source pairs are worth a full j2 pass and which sources to
    drop wholesale. The pair join is GRAM-KEYED (equi on the gram,
    a.source < b.source kills self/mirror pairs) so candidate work is
    Σ_g |sources(g)|² — bounded by sources-per-gram, never a source
    cartesian, and at 100 TB the distinct (source, gram) profile
    table is the only corpus-sized intermediate; it is materialized
    once and reused by the sizes agg and both join sides. TakeOrdered
    produces the top-K without a global sort."""
    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    grams = materialize(
        widen(docs)
        .select("source", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select("source", F.explode(word_ngrams(F.col("w"), 2)).alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    scored = (
        pairs.join(
            F.broadcast(sizes.withColumnsRenamed({"source": "src_a", "n": "n_a"})),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"source": "src_b", "n": "n_b"})),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jacc"),
        )
    )
    return scored.orderBy(F.desc("jacc"), "src_a", "src_b").limit(OVERLAP_TOPK)


# ---------------------------------------------------------------- j71

SPLIT_VAL = 0.1  # val fraction; test gets the same, train the rest


@query(
    "j71_leakage_safe_split",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, lang,
             substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40)
               AS block
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, lang, block,
             ('0x' || substr(md5(block), 1, 8))::BIGINT / 4294967296.0 AS u_grp,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u_doc
      FROM normed
    ),
    labeled AS (
      SELECT doc_id, lang, block,
             CASE WHEN u_grp < {SPLIT_VAL} THEN 'val'
                  WHEN u_grp < {2 * SPLIT_VAL} THEN 'test'
                  ELSE 'train' END AS split,
             CASE WHEN u_doc < {SPLIT_VAL} THEN 'val'
                  WHEN u_doc < {2 * SPLIT_VAL} THEN 'test'
                  ELSE 'train' END AS naive_split
      FROM assigned
    ),
    leak AS (
      SELECT CAST(COUNT(*) FILTER (n_splits > 1) AS BIGINT) AS grouped,
             CAST(COUNT(*) FILTER (n_naive > 1) AS BIGINT) AS naive
      FROM (
        SELECT block,
               COUNT(DISTINCT split) AS n_splits,
               COUNT(DISTINCT naive_split) AS n_naive
        FROM labeled GROUP BY block
        HAVING COUNT(*) > 1
      )
    )
    SELECT l.split, l.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           k.grouped AS leaky_blocks_grouped,
           k.naive AS leaky_blocks_naive
    FROM labeled l, leak k
    GROUP BY l.split, l.lang, k.grouped, k.naive
    """,
)
def j71_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the classic eval bug is a
    near-duplicate pair straddling the train/val boundary — the model
    'generalizes' to text it memorized. Splitting on md5 of the
    DEDUP-GROUP key (j24's 40-char blocking prefix) instead of the
    doc id puts every near-dup group wholly inside one split BY
    CONSTRUCTION, and the output carries the receipts: the number of
    multi-doc groups straddling splits under the group-keyed
    assignment (provably 0) NEXT TO the same count under the naive
    doc-keyed split (measurably >0 on this corpus) — the leak you
    didn't pay for, quantified and hash-checked. Content-addressed
    thresholds (u = h32/2³²) make the split reproducible on any
    engine with no RNG state, and fractions hold per-group in
    expectation. One narrow map assigns both splits; the leak audit
    is a block-keyed agg (map-side combined) whose 2-number result
    broadcasts onto the per-(split,lang) tally — the corpus shuffles
    once, on the block key, at any scale."""
    docs = load(spark, sf_dir, "documents")
    normed = docs.select(
        "doc_id",
        "lang",
        F.substring(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 1, 40
        ).alias("block"),
    )

    def u(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") / F.lit(
            4294967296.0
        )

    def tag(ucol):
        return (
            F.when(ucol < SPLIT_VAL, F.lit("val"))
            .when(ucol < 2 * SPLIT_VAL, F.lit("test"))
            .otherwise(F.lit("train"))
        )

    labeled = materialize(
        normed.select(
            "doc_id",
            "lang",
            "block",
            tag(u(F.col("block"))).alias("split"),
            tag(u(F.col("doc_id").cast("string"))).alias("naive_split"),
        )
    )
    leak = (
        labeled.groupBy("block")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("split").alias("n_splits"),
            F.countDistinct("naive_split").alias("n_naive"),
        )
        .filter(F.col("n") > 1)
        .agg(
            # coalesce: a corpus with NO multi-doc blocks aggregates
            # over empty input — Spark's sum yields NULL where the
            # oracle's COUNT FILTER yields 0 (fixtures regenerate
            # between rounds; don't depend on dups existing)
            F.coalesce(F.sum((F.col("n_splits") > 1).cast("int")), F.lit(0))
            .cast("bigint")
            .alias("leaky_blocks_grouped"),
            F.coalesce(F.sum((F.col("n_naive") > 1).cast("int")), F.lit(0))
            .cast("bigint")
            .alias("leaky_blocks_naive"),
        )
    )
    return (
        labeled.groupBy("split", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(leak))
        .select(
            "split", "lang", "n_docs", "leaky_blocks_grouped", "leaky_blocks_naive"
        )
    )


# ---------------------------------------------------------------- j70

QSK_K = 128  # priority-sample size per group


@query(
    "j70_quantile_sketch",
    oracle=f"""
    WITH pri AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS pr
      FROM documents
    ),
    ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pr) AS rk
      FROM pri
    ),
    est AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_sample,
             round(quantile_cont(n_chars, 0.5), 2) AS est_p50,
             round(quantile_cont(n_chars, 0.9), 2) AS est_p90
      FROM ranked WHERE rk <= {QSK_K}
      GROUP BY lang
    ),
    exact AS (
      SELECT lang,
             round(quantile_cont(n_chars, 0.5), 2) AS exact_p50,
             round(quantile_cont(n_chars, 0.9), 2) AS exact_p90
      FROM documents GROUP BY lang
    )
    SELECT e.lang, e.exact_p50, s.est_p50, e.exact_p90, s.est_p90, s.n_sample
    FROM exact e JOIN est s ON e.lang = s.lang
    """,
)
def j70_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a deterministic priority sample — the
    QUANTILE member of the engine-reproducible sketch quartet (j65
    membership, j66 frequency, j67 distinct): the {QSK_K} docs with
    the smallest md5(doc_id) priorities ARE a uniform sample (the
    md5 is a fixed random permutation of doc ids), so quantiles of
    the sample estimate population quantiles — and unlike
    percentile_approx's private KLL-style sketch (h9, tolerance
    band), both engines materialize the IDENTICAL sample and the
    identical interpolated percentile, so estimate AND error are
    hash-checked. Exact percentiles sit beside the estimates. The
    sample is mergeable exactly like j67: union bottom-k sets,
    re-take bottom k — at 100 TB each shard contributes k rows and
    the merge is a {QSK_K}·shards TakeOrdered, never a corpus
    shuffle; the exact side (a full per-group sort today) is the
    thing you DROP at scale, which is the point of the sketch."""
    docs = load(spark, sf_dir, "documents")
    pri = docs.select(
        "lang",
        "n_chars",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("pr"),
    )
    w = Window.partitionBy("lang").orderBy("pr")
    sample = pri.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= QSK_K
    )
    est = sample.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_sample"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("est_p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("est_p90"),
    )
    exact = docs.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("exact_p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("exact_p90"),
    )
    return exact.join(F.broadcast(est), "lang").select(
        "lang", "exact_p50", "est_p50", "exact_p90", "est_p90", "n_sample"
    )


# ---------------------------------------------------------------- j69


@query(
    "j69_ngram_novelty",
    oracle=_DUCK_BIGRAMS
    + f""",
    first_seen AS (
      SELECT tok, MIN(doc_id) AS first_doc
      FROM toks GROUP BY tok
    ),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM toks t JOIN first_seen f ON t.tok = f.tok
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           round(CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams), 4) AS novelty_rate
    FROM per_doc
    GROUP BY lang
    """,
)
def j69_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve (the WIMBD-class 'what does each extra
    document actually add' redundancy measure): a bigram is NOVEL in
    the first doc (min doc_id — the canonical ingestion order) that
    contains it; per lang, the fraction of gram occurrences that were
    novel when they arrived. A redundant corpus trends toward 0 and
    is a dedup/upsampling smell BEFORE any pairwise dedup runs —
    this is the one-pass screening metric that decides whether j2's
    LSH is even worth the shuffle. Plan: one gram explode feeds a
    min-agg keyed on gram (vocab-bounded, map-side combined) and the
    occurrence stream; they re-join ON THE GRAM KEY (equi, both sides
    already gram-partitioned from the agg — AQE reuses the exchange),
    then two bounded aggs. No pairwise stage anywhere; at 100 TB
    first_seen is a persisted vocabulary artifact updated
    incrementally, and the join stays gram-co-located."""
    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    toks = (
        widen(docs)
        .select("doc_id", "lang", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id", "lang", F.explode(word_ngrams(F.col("w"), 2)).alias("tok")
        )
    )
    # compact to per-(doc, gram) counts BEFORE the cut (the j64
    # pattern): the materialized artifact and the join input shrink
    # from one row per occurrence to one per distinct (doc, gram),
    # and the totals reconstruct exactly via weighted sums
    counts = materialize(
        toks.groupBy("doc_id", "lang", "tok").agg(F.count("*").alias("c"))
    )
    first_seen = counts.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        counts.join(first_seen, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("n_grams"),
        F.sum("n_novel").cast("bigint").alias("n_novel"),
        F.round(
            F.sum("n_novel").cast("double") / F.sum("n_grams"), 4
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------- j68

DIGEST_MOD = 1 << 60  # digest space: sums of 60-bit hashes mod 2^60

# shared by j68 (batch) and i25 (streaming twin in streaming_queries)
DUCK_DIGEST_ORACLE = f"""
    WITH h AS (
      SELECT source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                 || COALESCE(text, '')), 1, 15))::BIGINT AS hv
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(CAST(hv AS DECIMAL(38, 0))) % {DIGEST_MOD} AS BIGINT)
             AS content_digest
    FROM h
    GROUP BY source
    """


def digest_hash64(doc_id_col, text_col):
    """The canonical 60-bit per-document hash every digest operator
    (j68, i25, a24) shares — one definition so their digests stay
    comparable."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    doc_id_col.cast("string"),
                    F.lit(":"),
                    F.coalesce(text_col, F.lit("")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def corpus_digest_agg(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_chars, content_digest) from a documents
    DataFrame — batch or streaming; the digest sum is associative so
    the same expression serves both (micro-batches ADD into state)."""
    hv = digest_hash64(F.col("doc_id"), F.col("text"))
    return (
        docs.select("source", "n_chars", hv.alias("hv"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            (F.sum(F.col("hv").cast("decimal(38,0)")) % DIGEST_MOD)
            .cast("bigint")
            .alias("content_digest"),
        )
    )


@query("j68_corpus_digest", oracle=DUCK_DIGEST_ORACLE)
def j68_corpus_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verifiable corpus-snapshot fingerprint: per source, an
    ORDER-FREE content digest = Σ md5₆₀(doc_id‖text) mod 2⁶⁰ next to
    doc and char counts. Sum is commutative and associative, so the
    digest is partition-order independent (a Merkle-style
    concat-then-hash would need a global sort), partial aggregation
    merges it map-side, and per-shard digests ADD at 100 TB — the
    cheapest possible 'did this rerun/migration/engine produce the
    identical corpus?' check, the artifact the determinism gate
    (tools/determinism_check.py) verifies behaviorally and this
    operator makes queryable. 60-bit hash values keep every operand
    exact; the running sum lives in DECIMAL(38,0) (exact in Spark and
    DuckDB alike — a BIGINT sum would overflow engine-dependently)
    and reduces mod 2⁶⁰ once at the end. Hash-matches DuckDB because
    md5 + integer arithmetic is the whole computation. i25 runs the
    SAME aggregation over the document STREAM (micro-batches add into
    |sources| rows of state) against the same oracle."""
    return corpus_digest_agg(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- j131

CAP_BENCH_CUT = 10  # doc_id < 10 = the eval suite (j116/i28's convention)
CAP_GRAM = 8  # decontamination token-gram width
CAP_PACK = 512  # tokens per training pack (j124's PACK_BUDGET)
_CAP_STOPS = ("the", "a", "be", "to", "of", "and", "that", "have", "with", "it")

_H48_DUCK = "('0x' || substr(md5({x}), 1, 12))::BIGINT"
_CAP_SH_DUCK = (
    "list_distinct(list_transform(range(1, greatest(len(norm) - 7, 0) + 1),"
    " i -> substr(norm, i, 8)))"
)
_CAP_JACC_DUCK = (
    "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
    " / (len(a.shingles) + len(b.shingles)"
    " - len(list_intersect(a.shingles, b.shingles)))"
)


def _cap_audit_duck(stage: str, tbl: str) -> str:
    h = _H48_DUCK.format(x="CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT '{stage}' AS stage, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,"
        f" CAST(SUM(tokens) AS BIGINT) AS n_tokens,"
        f" CAST(bit_xor({h}) AS BIGINT) AS set_digest"
        f" FROM {tbl} GROUP BY lang"
    )


def _duck_corpus_pipeline_oracle() -> str:
    stops = "[" + ", ".join(f"'{s}'" for s in _CAP_STOPS) + "]"
    h_pack = _H48_DUCK.format(
        x="lang || ':' || CAST(pack_id AS VARCHAR) || ':' || docs_md5"
    )
    return f"""
    WITH s1 AS MATERIALIZED (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS w,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents WHERE doc_id >= {CAP_BENCH_CUT}
    ),
    feats AS (
      SELECT s1.*,
             CAST(COALESCE(list_aggregate(list_transform(w, x -> len(x)), 'sum'), 0)
                  AS BIGINT) AS tl,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
             len(list_filter({stops}::VARCHAR[],
                             s -> list_contains(list_transform(w, x -> lower(x)), s)))
               AS sw
      FROM s1
    ),
    s2 AS MATERIALIZED (
      SELECT doc_id, lang, w, norm, tokens FROM feats
      WHERE tokens BETWEEN 20 AND 100000 AND 3 * tokens <= tl AND tl <= 10 * tokens
        AND 5 * aw > 4 * tokens AND sw >= 2
    ),
    s3 AS MATERIALIZED (
      SELECT doc_id, lang, w, norm, tokens FROM (
        SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM s2) WHERE rn = 1
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, substr(norm, 1, 40) AS block, {_CAP_SH_DUCK} AS shingles
      FROM s3 WHERE len(norm) >= 8
    ),
    neardrop AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE {_CAP_JACC_DUCK} >= 0.3
    ),
    s4 AS MATERIALIZED (
      SELECT s3.* FROM s3 LEFT JOIN neardrop d ON d.doc_id = s3.doc_id
      WHERE d.doc_id IS NULL
    ),
    bench AS MATERIALIZED (
      SELECT DISTINCT md5(array_to_string(list_slice(bw.w, i.i, i.i + {CAP_GRAM - 1}), ' ')) AS g
      FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
            FROM documents WHERE doc_id < {CAP_BENCH_CUT}) bw,
           LATERAL (SELECT unnest(range(1, len(bw.w) - {CAP_GRAM - 2})) AS i) i
      WHERE len(bw.w) >= {CAP_GRAM}
    ),
    contam AS (
      SELECT DISTINCT s4.doc_id
      FROM s4, LATERAL (SELECT unnest(range(1, len(s4.w) - {CAP_GRAM - 2})) AS i) i
      JOIN bench b
        ON b.g = md5(array_to_string(list_slice(s4.w, i.i, i.i + {CAP_GRAM - 1}), ' '))
      WHERE len(s4.w) >= {CAP_GRAM}
    ),
    s5 AS MATERIALIZED (
      SELECT s4.* FROM s4 LEFT JOIN contam c ON c.doc_id = s4.doc_id
      WHERE c.doc_id IS NULL
    ),
    r AS (
      SELECT lang, doc_id, tokens,
             SUM(tokens) OVER (PARTITION BY lang ORDER BY tokens DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running
      FROM s5
    ),
    packed AS (
      SELECT lang, doc_id, tokens, running,
             CAST(ceil(CAST(running AS DOUBLE) / {CAP_PACK}) AS BIGINT) AS pack_id
      FROM r
    ),
    manifest AS MATERIALIZED (
      SELECT lang, pack_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS pack_tokens,
             md5(string_agg(doc_id, ',' ORDER BY running, doc_id)) AS docs_md5
      FROM packed GROUP BY lang, pack_id
    )
    {_cap_audit_duck('1_ingest_normalize', 's1')}
    UNION ALL {_cap_audit_duck('2_quality_gate', 's2')}
    UNION ALL {_cap_audit_duck('3_dedup_exact', 's3')}
    UNION ALL {_cap_audit_duck('4_dedup_near', 's4')}
    UNION ALL {_cap_audit_duck('5_decontaminated', 's5')}
    UNION ALL
    SELECT '6_pack_manifest' AS stage, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pack_tokens) AS BIGINT) AS n_tokens,
           CAST(bit_xor({h_pack}) AS BIGINT) AS set_digest
    FROM manifest GROUP BY lang
    """


def _cap_h48(col):
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _cap_audit(stage: str, df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("n_tokens"),
        F.bit_xor(_cap_h48(F.col("doc_id").cast("string")))
        .cast("bigint")
        .alias("set_digest"),
    ).select(F.lit(stage).alias("stage"), "lang", "n_docs", "n_tokens", "set_digest")


@query("j131_corpus_pipeline", oracle=_duck_corpus_pipeline_oracle())
def j131_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus-build capstone (VERDICT r9 #5) — the existing
    stages composed into ONE auditable pipeline, the artifact chain a
    trainer actually consumes: ingest+normalize (j100's casefold/
    whitespace canon) → Gopher quality funnel (j80's four integer
    rules) → exact dedup (j34's keep-lowest-id) → near dedup (j34's
    blocked exact-Jaccard ≥ 0.3) → decontamination (j116/i28's
    benchmark 8-gram quarantine) → pack manifest (j124's
    concat-then-chunk composition). At EVERY materialization boundary
    the op emits an a24-style audit row: (stage, lang, docs, tokens,
    set_digest) where set_digest is an ORDER-FREE bit_xor fold of a
    48-bit md5 per member doc (stage 6: per pack composition md5) —
    so any replay, any engine, any partitioning reproduces the exact
    chain, and a mismatch pinpoints WHICH stage diverged. The oracle
    replays the full six-stage chain in DuckDB.

    Exactness: every stage decision is already engine-exact (integer
    quality predicates, min-id dedup, deterministic prefix blocking,
    md5 grams, total-order packing); the digests are md5 + XOR — no
    floats anywhere in the output. Plan: one corpus scan feeds stage
    1 (materialized with norm + token arrays carried once); each
    stage is the SAME shape as its standalone op (hash agg / window /
    block self-join / broadcast gram semi-join / one pack window);
    stages materialize because two consumers read each (the next
    stage and the audit row) — exactly the checkpoint cadence a
    100 TB corpus build runs, where each boundary is a persisted
    table whose digest ships with it. The only corpus-sized shuffles
    are the ones the standalone ops already pay; the audit rows are
    |langs|-row aggregates on tables already in hand."""
    from json2hbase_spark.operators.dedup import (
        block_pairs,
        block_shingles,
        normalize_text,
    )

    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    s1 = materialize(
        widen(docs.filter(F.col("doc_id") >= CAP_BENCH_CUT)).select(
            "doc_id",
            "lang",
            w.alias("w"),
            normalize_text(F.col("text")).alias("norm"),
            F.size(w).alias("tokens"),
        )
    )
    wl = F.transform("w", lambda x: F.lower(x))
    stops = F.array(*[F.lit(s) for s in _CAP_STOPS])
    feats = s1.select(
        "*",
        F.aggregate("w", F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias(
            "tl"
        ),
        F.size(F.filter("w", lambda x: x.rlike("[A-Za-z]"))).alias("aw"),
        F.size(F.filter(stops, lambda s: F.array_contains(wl, s))).alias("sw"),
    )
    s2 = materialize(
        feats.filter(
            F.col("tokens").between(20, 100000)
            & (3 * F.col("tokens") <= F.col("tl"))
            & (F.col("tl") <= 10 * F.col("tokens"))
            & (5 * F.col("aw") > 4 * F.col("tokens"))
            & (F.col("sw") >= 2)
        ).select("doc_id", "lang", "w", "norm", "tokens")
    )
    keep = s2.groupBy("norm").agg(F.min("doc_id").alias("doc_id"))
    s3 = materialize(s2.join(keep, ["norm", "doc_id"], "left_semi"))
    neardrop = (
        block_pairs(block_shingles(s3), 0.3)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s4 = materialize(s3.join(F.broadcast(neardrop), "doc_id", "left_anti"))
    bw = docs.filter(F.col("doc_id") < CAP_BENCH_CUT).select(w.alias("w"))
    gram = lambda col, i: F.md5(  # noqa: E731
        F.concat_ws(" ", F.slice(col, i, CAP_GRAM))
    )
    bench = (
        bw.filter(F.size("w") >= CAP_GRAM)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("w") - CAP_GRAM + 1)).alias("i"),
            "w",
        )
        .select(gram(F.col("w"), F.col("i")).alias("g"))
        .distinct()
    )
    contam = (
        s4.filter(F.size("w") >= CAP_GRAM)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - CAP_GRAM + 1)).alias("i"),
            "w",
        )
        .select("doc_id", gram(F.col("w"), F.col("i")).alias("g"))
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    s5 = materialize(s4.join(F.broadcast(contam), "doc_id", "left_anti"))
    win = (
        Window.partitionBy("lang")
        .orderBy(F.desc("tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = s5.select("lang", "doc_id", "tokens").withColumn(
        "running", F.sum("tokens").over(win)
    ).withColumn(
        "pack_id", F.ceil(F.col("running").cast("double") / CAP_PACK).cast("bigint")
    )
    ordered_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("running", "doc_id"))),
        lambda x: x["doc_id"].cast("string"),
    )
    manifest = packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("pack_tokens"),
        F.md5(F.concat_ws(",", ordered_ids)).alias("docs_md5"),
    )
    pack_audit = manifest.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("pack_tokens").cast("bigint").alias("n_tokens"),
        F.bit_xor(
            _cap_h48(
                F.concat_ws(
                    ":", F.col("lang"), F.col("pack_id").cast("string"), F.col("docs_md5")
                )
            )
        )
        .cast("bigint")
        .alias("set_digest"),
    ).select(
        F.lit("6_pack_manifest").alias("stage"), "lang", "n_docs", "n_tokens", "set_digest"
    )
    return (
        _cap_audit("1_ingest_normalize", s1)
        .unionByName(_cap_audit("2_quality_gate", s2))
        .unionByName(_cap_audit("3_dedup_exact", s3))
        .unionByName(_cap_audit("4_dedup_near", s4))
        .unionByName(_cap_audit("5_decontaminated", s5))
        .unionByName(pack_audit)
    )


# ---------------------------------------------------------------- j143


def _duck_gate_order_oracle() -> str:
    stops = "[" + ", ".join(f"'{s}'" for s in _CAP_STOPS) + "]"
    h = _H48_DUCK.format(x="CAST(doc_id AS VARCHAR)")

    def audit(ordering: str, stage: str, tbl: str) -> str:
        return (
            f"SELECT '{ordering}' AS ordering, '{stage}' AS stage, lang,"
            f" CAST(COUNT(*) AS BIGINT) AS n_docs,"
            f" CAST(SUM(tokens) AS BIGINT) AS n_tokens,"
            f" CAST(bit_xor({h}) AS BIGINT) AS set_digest"
            f" FROM {tbl} GROUP BY lang"
        )

    def near(src: str, sh: str, drop: str, out: str) -> str:
        return f"""
    {sh} AS MATERIALIZED (
      SELECT doc_id, substr(norm, 1, 40) AS block, {_CAP_SH_DUCK} AS shingles
      FROM {src} WHERE len(norm) >= 8
    ),
    {drop} AS (
      SELECT DISTINCT b.doc_id
      FROM {sh} a JOIN {sh} b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE {_CAP_JACC_DUCK} >= 0.3
    ),
    {out} AS MATERIALIZED (
      SELECT s.* FROM {src} s LEFT JOIN {drop} d ON d.doc_id = s.doc_id
      WHERE d.doc_id IS NULL
    )"""

    return f"""
    WITH s1 AS MATERIALIZED (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS w,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents WHERE doc_id >= {CAP_BENCH_CUT}
    ),
    feats AS MATERIALIZED (
      SELECT doc_id, lang, norm, tokens,
             (tokens BETWEEN 20 AND 100000 AND 3 * tokens <= tl
              AND tl <= 10 * tokens AND 5 * aw > 4 * tokens AND sw >= 2)
               AS q_ok
      FROM (
        SELECT s1.*,
               CAST(COALESCE(list_aggregate(list_transform(w, x -> len(x)),
                                            'sum'), 0) AS BIGINT) AS tl,
               len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
               len(list_filter({stops}::VARCHAR[],
                               s -> list_contains(list_transform(w, x -> lower(x)), s)))
                 AS sw
        FROM s1
      )
    ),
    a2 AS MATERIALIZED (SELECT * FROM feats WHERE q_ok),
    a3 AS MATERIALIZED (
      SELECT doc_id, lang, norm, tokens, q_ok FROM (
        SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM a2) WHERE rn = 1
    ),{near("a3", "asha", "adropa", "a4")},
    b2 AS MATERIALIZED (
      SELECT doc_id, lang, norm, tokens, q_ok FROM (
        SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM feats) WHERE rn = 1
    ),{near("b2", "bshb", "bdropb", "b3")},
    b4 AS MATERIALIZED (SELECT * FROM b3 WHERE q_ok),
    rows_ AS (
      {audit('filter_first', '1_quality', 'a2')}
      UNION ALL {audit('filter_first', '2_dedup_exact', 'a3')}
      UNION ALL {audit('filter_first', '3_dedup_near', 'a4')}
      UNION ALL {audit('dedup_first', '1_dedup_exact', 'b2')}
      UNION ALL {audit('dedup_first', '2_dedup_near', 'b3')}
      UNION ALL {audit('dedup_first', '3_quality', 'b4')}
    ),
    ing AS (SELECT lang, CAST(SUM(tokens) AS BIGINT) AS tokens0
            FROM s1 GROUP BY lang)
    SELECT r.ordering, r.stage, r.lang, r.n_docs, r.n_tokens, r.set_digest,
           CAST(COALESCE(lag(r.n_tokens) OVER (PARTITION BY r.ordering, r.lang
                                               ORDER BY r.stage), i.tokens0)
                - r.n_tokens AS BIGINT) AS tokens_dropped
    FROM rows_ r JOIN ing i USING (lang)
    """


@query("j143_gate_order_audit", oracle=_duck_gate_order_oracle())
def j143_gate_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-ORDER audit for the corpus capstone (VERDICT r10 #7) —
    j131 runs filter→dedup by fiat; j140 measures WHY the order
    matters (duplication concentrates in low-quality bins). This op
    runs the middle three stages in BOTH orders over the shared
    normalized corpus and reports the per-stage audit rows side by
    side: filter_first = quality gate → exact dedup → near dedup
    (j131's order); dedup_first = exact dedup → near dedup → quality
    gate. Each row carries (n_docs, n_tokens, set_digest,
    tokens_dropped vs the previous stage), so the decision j140
    informs is read directly: dedup_first loses extra content
    wherever a kept cluster representative (lowest doc_id) fails the
    quality gate that its dropped near-twins would have passed, and
    filter_first pays its near-dup join over only the quality
    survivors — the token deltas ARE the cost/benefit table.

    Exactness: every stage decision is integer/string-exact (j131's
    predicates, min-id dedup, deterministic prefix blocking); digests
    are md5+XOR; tokens_dropped is a bounded 3-row lag per
    (ordering, lang). Plan: the corpus scans ONCE into the shared
    normalized+featured table (materialized, read by both orders);
    each order then reuses j131's stage shapes (hash agg for min-id,
    block self-join for near-dup — never all-pairs); audit rows are
    |langs|-row aggregates; the final delta window runs over
    2×3×|langs| rows. At 100 TB this costs ~one extra dedup pass over
    the corpus vs j131 — exactly the experiment a data team runs ONCE
    before freezing the gate order."""
    from json2hbase_spark.operators.dedup import (
        block_pairs,
        block_shingles,
        normalize_text,
    )

    docs = load(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    # round 13: ONE materialize instead of two — the token ARRAY
    # column `w` was checkpointed in full (s1) and then a second
    # checkpoint derived q_ok from it; folding the quality features
    # into the same projection keeps the heavy array out of storage
    # entirely (guide §2.3: shuffle/store keys and metadata, not
    # payloads) and drops one eager driver action. `ing` (the
    # pre-pipeline token tally) reads the same materialized table —
    # same rows, identical sums.
    s1 = widen(docs.filter(F.col("doc_id") >= CAP_BENCH_CUT)).select(
        "doc_id",
        "lang",
        w.alias("w"),
        normalize_text(F.col("text")).alias("norm"),
        F.size(w).alias("tokens"),
    )
    wl = F.transform("w", lambda x: F.lower(x))
    stops = F.array(*[F.lit(s) for s in _CAP_STOPS])
    tl = F.aggregate("w", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    aw = F.size(F.filter("w", lambda x: x.rlike("[A-Za-z]")))
    sw = F.size(F.filter(stops, lambda s: F.array_contains(wl, s)))
    q_ok = (
        F.col("tokens").between(20, 100000)
        & (3 * F.col("tokens") <= tl)
        & (tl <= 10 * F.col("tokens"))
        & (5 * aw > 4 * F.col("tokens"))
        & (sw >= 2)
    )
    feats = materialize(
        s1.select("doc_id", "lang", "norm", "tokens", q_ok.alias("q_ok"))
    )

    # Round 14 (VERDICT r13 #6): BOTH orderings' exact-dedup stages
    # share ONE window pass over the norm partition — the overall
    # min doc_id (dedup_first's keep) and the min among quality
    # survivors (filter_first's keep) ride the same shuffle, because
    # min over the q_ok SUBSET of a partition equals
    # min(CASE WHEN q_ok THEN doc_id END) over the full partition.
    # One materialized table replaces the two per-ordering exact()
    # barriers (7 -> 6 driver actions, one fewer corpus-sized
    # window+exchange); a3/b2 become cheap filters over it, the
    # round-13 a2/b4 posture.
    wmin = Window.partitionBy("norm")
    mins = materialize(
        feats.withColumn("_m_all", F.min("doc_id").over(wmin)).withColumn(
            "_m_q", F.min(F.when(F.col("q_ok"), F.col("doc_id"))).over(wmin)
        )
    )

    def near(df: DataFrame) -> DataFrame:
        # round 13 second pass: materialize the TINY drop list (≤ dup
        # candidates), not the full anti-join survivor table — the
        # survivor copy rewrote the whole stage to storage for one or
        # two cheap consumers, while the expensive pair join lives
        # entirely in `drop`. Consumers re-run only a scan of the
        # already-materialized df side + a broadcast lookup.
        drop = materialize(
            block_pairs(block_shingles(df), 0.3)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        return df.join(drop, "doc_id", "left_anti")

    # a2/b4 stay LAZY (round 13 second pass): both are cheap filters
    # over already-materialized tables (feats / b3's materialized
    # inputs) — checkpointing them copied the table once per stage for
    # consumers that only re-scan it. a3/b2 are now lazy filters over
    # the shared `mins` pass (round 14, above).
    a2 = feats.filter("q_ok")
    a3 = mins.filter(F.col("q_ok") & (F.col("doc_id") == F.col("_m_q"))).drop(
        "_m_all", "_m_q"
    )
    a4 = near(a3)
    b2 = mins.filter(F.col("doc_id") == F.col("_m_all")).drop("_m_all", "_m_q")
    b3 = near(b2)
    b4 = b3.filter("q_ok")

    def audit(ordering: str, stage: str, df: DataFrame) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("tokens").cast("bigint").alias("n_tokens"),
                F.bit_xor(_cap_h48(F.col("doc_id").cast("string")))
                .cast("bigint")
                .alias("set_digest"),
            )
            .select(
                F.lit(ordering).alias("ordering"),
                F.lit(stage).alias("stage"),
                "lang",
                "n_docs",
                "n_tokens",
                "set_digest",
            )
        )

    rows = (
        audit("filter_first", "1_quality", a2)
        .unionByName(audit("filter_first", "2_dedup_exact", a3))
        .unionByName(audit("filter_first", "3_dedup_near", a4))
        .unionByName(audit("dedup_first", "1_dedup_exact", b2))
        .unionByName(audit("dedup_first", "2_dedup_near", b3))
        .unionByName(audit("dedup_first", "3_quality", b4))
    )
    ing = feats.groupBy("lang").agg(F.sum("tokens").cast("bigint").alias("tokens0"))
    dw = Window.partitionBy("ordering", "lang").orderBy("stage")
    return (
        rows.join(F.broadcast(ing), "lang")
        .select(
            "ordering",
            "stage",
            "lang",
            "n_docs",
            "n_tokens",
            "set_digest",
            (
                F.coalesce(F.lag("n_tokens").over(dw), F.col("tokens0"))
                - F.col("n_tokens")
            )
            .cast("bigint")
            .alias("tokens_dropped"),
        )
    )
