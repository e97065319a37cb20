"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2 J1/J2/J9; PAPERS.md similarity corpus).

Exact dedup is a hash group-by. Near-dup is the classic
shingle → MinHash → LSH-banding pipeline, built ENTIRELY from native
Catalyst expressions (higher-order functions + xxhash64) — no Python
UDFs, so the hot path stays in whole-stage codegen.

Scale analysis (the reason this shape wins at 100 TB):
- signatures: narrow map, O(docs × shingles × hashes) CPU, no shuffle
- banding: explode to bands (×B rows), shuffle on (band, band_hash) —
  O(n·B) shuffled rows instead of the O(n²) crossJoin a naive
  similarity join needs
- candidate pairs: only docs sharing a band bucket meet; verification
  (exact Jaccard on shingle sets) touches candidates only.
Skewed buckets (boilerplate docs) are handled by AQE skew-join splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json2hbase_spark.materialize import materialize


def normalize_text(col: Column) -> Column:
    """j1 normalization: casefold + whitespace collapse."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def char_shingles(col: Column, k: int = 8) -> Column:
    """Distinct k-char shingles of a string (empty if len < k).

    ``col`` is let-bound through a single-element ``transform`` so the
    (possibly expensive) input expression — e.g. ``normalize_text`` —
    evaluates ONCE per row, not once per generated shingle. Without the
    binding, Catalyst inlines the input expression into the lambda body
    and re-evaluates it per array element (measured 13.6s → 0.7s for
    5000 docs at sf0.1)."""

    def shingles_of(c: Column) -> Column:
        n = F.length(c) - (k - 1)
        return F.when(
            n >= 1,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(k)))
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)"))

    return F.get(F.transform(F.array(col), shingles_of), 0)


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """j9: MinHash signature as array<bigint> — element h is
    min(xxhash64(h, shingle)) over the shingle set. Seed-mixing via the
    leading literal gives ``num_hashes`` independent hash families.

    The shingle input is let-bound (single-element ``transform``, see
    ``char_shingles``) so a computed shingle expression evaluates once
    per row rather than once per hash family. CAUTION: higher-order
    functions run interpreted, not in codegen — fully materialized
    this form costs ~2.5x the explode+min-agg path
    (``minhash_signatures_agg``), which is the hot-path default;
    count()-style probes under-measure this form because pruning
    skips most of the work."""

    def from_sh(s: Column) -> Column:
        return F.array(
            *[
                F.array_min(F.transform(s, lambda x: F.xxhash64(F.lit(h), x)))
                for h in range(num_hashes)
            ]
        )

    return F.get(F.transform(F.array(shingles), from_sh), 0)


def shingle_stream(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Raw k-char shingle OCCURRENCES as rows — (id_col, _s). Fully
    whole-stage-codegen: normalize once per row (projection before the
    generator), positions via explode(sequence), substr in the same
    stage — no higher-order functions anywhere, so nothing runs
    interpreted. Duplicates are deliberately NOT removed: every
    consumer here is a min()-style aggregate for which multiset == set,
    and skipping array_distinct/transform keeps the hot path compiled
    (the let-bound HOF shingle projection costs ~3.4 s steady at sf0.1
    for 5 000 docs; this stream costs well under 1 s). Use
    ``char_shingles`` only where the distinct shingle SET is needed
    (exact-Jaccard verification on the small candidate sliver).

    The explode fans out ~len(text) rows per doc, so upstream
    parallelism decides everything: a small corpus arriving as fewer
    scan splits than cores (the local single-file fixture is ONE
    partition) would run the whole fan-out on one thread. Widen before
    the explode in that case; on a real cluster the scan already
    yields >> cores splits and the branch is dead."""
    from json2hbase_spark.io import widen

    df = widen(df)
    return (
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_t"))
        .filter(F.length("_t") >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length("_t") - (k - 1))).alias("_i"),
            F.col("_t"),
        )
        .select(F.col(id_col), F.col("_t").substr(F.col("_i"), F.lit(k)).alias("_s"))
    )


def minhash_from_stream(
    stream: DataFrame,
    id_col: str,
    s_col: str = "_s",
    num_hashes: int = 64,
    chunk: int = 64,
) -> DataFrame:
    """Aggregation-form MinHash over a shingle-occurrence stream with
    two-base-hash family derivation: two xxhash64 evaluations per
    occurrence, family h = h0 XOR rotr(h1, h) — the bitwise analogue
    of Kirsch–Mitzenmacher double hashing (the multiply-add form would
    trip ANSI overflow checks; rotation+XOR is wrap-free and keeps the
    whole expression in codegen). Then ``num_hashes`` min-aggregates
    per doc (map-side combine before the shuffle). Versus hashing the
    string once per family this cuts the per-row string-hash work 32×
    while preserving the MinHash Jaccard estimator
    (tests/test_properties.py pins the accuracy bound).
    Returns (id_col, sig array<bigint>).

    Default is one single-pass ``num_hashes``-wide aggregate: with the
    bitwise families the generated method stays small enough that no
    JIT/codegen cliff appears (measured 1×64 ≈ 2×32 first-run AND
    steady at sf0.1), and one pass reads the stream once. ``chunk``
    remains for wider signatures: chunked stages join exchange-free
    (both sides come out of their own groupBy hash-partitioned by
    ``id_col``)."""
    # one base-hash PAIR per 64-family block: rotations of a single
    # pair only span 64 independent mixes, so wider signatures derive
    # each block from freshly-seeded base hashes (block 0 keeps the
    # unseeded pair so <=64-hash signatures are unchanged)
    n_blocks = (num_hashes + 63) // 64
    base_cols = []
    for b in range(n_blocks):
        if b == 0:
            base_cols += [
                F.xxhash64(F.col(s_col)).alias("_b0_0"),
                F.xxhash64(F.lit(1), F.col(s_col)).alias("_b0_1"),
            ]
        else:
            base_cols += [
                F.xxhash64(F.lit(2 * b), F.col(s_col)).alias(f"_b{b}_0"),
                F.xxhash64(F.lit(2 * b + 1), F.col(s_col)).alias(f"_b{b}_1"),
            ]
    hashed = stream.select(F.col(id_col), *base_cols)

    def family(h: int) -> Column:
        b, r = divmod(h, 64)
        h0, h1 = F.col(f"_b{b}_0"), F.col(f"_b{b}_1")
        if r == 0:
            return h0
        rot = F.shiftrightunsigned(h1, r).bitwiseOR(F.shiftleft(h1, 64 - r))
        return h0.bitwiseXOR(rot)

    parts = []
    for start in range(0, num_hashes, chunk):
        hs = range(start, min(start + chunk, num_hashes))
        parts.append(
            hashed.groupBy(id_col).agg(
                *[F.min(family(h)).alias(f"_h{h}") for h in hs]
            )
        )
    mins = parts[0]
    for p in parts[1:]:
        mins = mins.join(p, id_col)
    return mins.select(
        F.col(id_col), F.array(*[F.col(f"_h{h}") for h in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_agg(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 64,
    chunk: int = 64,
) -> DataFrame:
    """MinHash signatures from a shingle-ARRAY column: explode into an
    occurrence stream and delegate to ``minhash_from_stream``. Prefer
    building the stream directly with ``shingle_stream`` in hot paths —
    it skips the interpreted HOF shingle projection entirely."""
    exploded = df.select(F.col(id_col), F.explode(F.col(shingle_col)).alias("_s"))
    return minhash_from_stream(exploded, id_col, "_s", num_hashes, chunk)


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` buckets of ``rows`` values and
    hash each band: array<struct<band int, bh bigint>>.

    Deliberately NOT let-bound: slice/xxhash64/array/struct all
    compile in whole-stage codegen, and wrapping them in a
    higher-order ``transform`` binding forces interpreted evaluation
    (measured 2.1s → 9.0s for the banding stage at sf0.1). Callers
    must instead materialize a computed ``sig`` behind an exchange
    before banding — see ``near_dup_pairs``."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice(sig, b * rows + 1, rows)).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string sets without repeats
    (``char_shingles`` output): |a∩b| / (|a|+|b|−|a∩b|), 0.0 when both
    are empty; the engine's one spelling of the formula. On distinct
    arrays |a|+|b|−|a∩b| is the union size, so no ``array_union`` is
    built, and the guard reads |a|+|b|, which is 0 exactly when the
    union is, so a row computes the intersection twice, not three
    times."""
    inter = F.size(F.array_intersect(a, b))
    sizes = F.size(a) + F.size(b)
    return F.when(sizes > 0, inter.cast("double") / (sizes - inter)).otherwise(
        F.lit(0.0)
    )


def block_shingles(df: DataFrame) -> DataFrame:
    """Shingle table of the blocked exact near-dup step: for each row
    of ``df`` (``doc_id`` and normalized text ``norm``) at least 8
    chars long, ``(doc_id, block, shingles)`` with the first 40 chars
    as the block key and the distinct 8-char shingles. Materialized:
    the block self-join reads it on both sides, and HOF-lambda plans
    defeat ReuseExchange, so unmaterialized it shingles the corpus
    twice (j2v: 5.1 s → 3.1 s steady at sf0.1)."""
    return materialize(
        df.filter(F.length("norm") >= 8).select(
            "doc_id",
            F.substring("norm", 1, 40).alias("block"),
            char_shingles(F.col("norm"), 8).alias("shingles"),
        )
    )


def block_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Blocked exact-Jaccard self-join over a ``(doc_id, block,
    shingles)`` table (``block_shingles``): every pair in one block
    with ``doc_a < doc_b`` and ``jaccard`` >= ``threshold``. Returns
    (doc_a, doc_b, jaccard). No hash function is involved, so the
    pair set is engine-independent and the DuckDB twin matches it
    exactly. Work is bounded by the squared block sizes, never all
    pairs; one boilerplate block is the skew case."""
    a = sh.select(
        "block", F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("block").alias("block_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
    )
    return (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """j2: candidate pairs via MinHash-LSH banding, verified with exact
    shingle Jaccard >= threshold. Returns (doc_a, doc_b, jaccard).

    With 16 bands × 4 rows, P(candidate) = 1-(1-J^4)^16: ~0.04 at
    J=0.4, ~0.93 at J=0.8 — the usual S-curve for near-dup mining.
    r must stay ≥ 4 here: a 16×2 layout (knee 0.25) admits J≈0.1
    pairs as candidates at ~15% probability, which on a corpus with
    shared templates turns the verification join quadratic (measured
    7.4 s → 74 s at sf0.1 before reverting). Codegen cost of the wide
    min-agg is addressed by splitting it into two half-width
    aggregates instead — see ``minhash_signatures_agg``.
    """
    rows = num_hashes // bands
    # shingle-occurrence stream + double-hashed min-agg: every stage of
    # the signature pipeline compiles in whole-stage codegen (no HOFs,
    # no array_distinct — min over the multiset equals min over the
    # set). The agg's exchange also hands the self-join below a shared
    # materialization point.
    stream = shingle_stream(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t0")),
        "_id",
        "_t0",
        shingle_k,
    )
    # materialize the compact signature table; the self-join's two
    # sides re-derive the cheap banding projection from the cached
    # signatures instead of re-running the shingle+min-agg per side
    sigs = materialize(minhash_from_stream(stream, "_id", "_s", num_hashes))
    banded = sigs.select(
        "_id", F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("_b")
    ).select("_id", "_b.band", "_b.bh")

    # candidate ids only through the band join (no shingle arrays in the
    # shuffle); shingles re-attach for verification afterwards
    left = banded.select(
        F.col("band").alias("l_band"), F.col("bh").alias("l_bh"), F.col("_id").alias("doc_a")
    )
    right = banded.select(
        F.col("band").alias("r_band"), F.col("bh").alias("r_bh"), F.col("_id").alias("doc_b")
    )
    # materialize the (small) candidate set once: it feeds the id
    # pruning below and the final pair join, and it cuts the LSH
    # pipeline out of every downstream subtree
    cands = (
        left.join(
            right,
            (left.l_band == right.r_band)
            & (left.l_bh == right.r_bh)
            & (left.doc_a < right.doc_b),
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cands = materialize(cands)
    # verification cost must scale with CANDIDATES, not corpus: semi-
    # join-prune the docs to candidate ids first, then shingle that
    # sliver only. At sf0.1 this measures ~1s SLOWER than shingling
    # the full corpus on both verify sides (the checkpoint job costs
    # more than 2x 5000-doc shingle passes), but at 100 TB the two
    # full-corpus passes are the difference between rescanning
    # everything and touching ~|candidates| rows — the right default
    # for the scale this engine targets.
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("_id")
    ).distinct()
    ver_sh = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .join(F.broadcast(cand_ids), "_id", "left_semi")
        .select(
            "_id", char_shingles(normalize_text(F.col("_t")), shingle_k).alias("_sh")
        )
    )
    sh_a = ver_sh.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("sh_a"))
    sh_b = ver_sh.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("sh_b"))
    return (
        cands.join(F.broadcast(sh_a), "doc_a")
        .join(F.broadcast(sh_b), "doc_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64(tokens: Column) -> Column:
    """SimHash over a token array: sign-sum of per-token xxhash64 bits,
    built from native expressions (64 bit-vote aggregates folded into a
    single BIGINT). Expression form — use ``simhash_agg`` in hot paths
    (this form re-walks the token array once per bit)."""
    def bit_vote(bit: int) -> Column:
        # +1 when the token hash has ``bit`` set, else -1; majority wins
        votes = F.aggregate(
            tokens,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.shiftright(F.xxhash64(t), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit(2 ** bit if bit < 63 else -(2 ** 63))).otherwise(F.lit(0))

    out = F.lit(0).cast("long")
    for b in range(64):
        out = out + bit_vote(b)
    return out


def simhash_agg(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """Per-doc SimHash via explode + packed per-bit popcount aggregates:
    hash each token occurrence once (codegen), then sum the raw bit
    values — the ±1 vote for bit b is strictly positive iff
    ``2*ones_b > n`` (n = token count), so counting ones replaces the
    64 when/otherwise vote branches entirely. Two bit-counters are
    packed per 64-bit accumulator (bit b in the low 32 bits, bit b+32
    in the high 32), halving the aggregation buffers again: 32 SUM
    columns + COUNT instead of 64 branchy SUMs — measured 2.4 s → 0.75 s
    at sf0.1 with identical fingerprints. The 32-bit fields cannot
    overflow below 2^31 tokens per document, far beyond any real doc.
    The shuffle carries one packed row-group per doc — 33 longs —
    which at 100 TB is far below the token stream it summarizes.
    Returns (id_col, sh BIGINT)."""
    ex = df.select(F.col(id_col), F.explode(F.col(token_col)).alias("_t"))
    hashed = ex.select(F.col(id_col), F.xxhash64("_t").alias("_h"))

    def packed_ones(b: int):
        # low field counts bit b, high field counts bit b+32
        low = F.shiftright("_h", b).bitwiseAND(F.lit(1))
        high = F.shiftleft(F.shiftright("_h", b + 32).bitwiseAND(F.lit(1)), 32)
        return F.sum(low + high).alias(f"_p{b}")

    votes = hashed.groupBy(id_col).agg(
        F.count("*").alias("_n"), *[packed_ones(b) for b in range(32)]
    )
    mask32 = F.lit((1 << 32) - 1)
    sh = F.lit(0).cast("long")
    for b in range(64):
        ones = (
            F.col(f"_p{b}").bitwiseAND(mask32)
            if b < 32
            else F.shiftright(F.col(f"_p{b - 32}"), 32)
        )
        sh = sh.bitwiseOR(
            F.shiftleft(
                F.when(ones * 2 > F.col("_n"), F.lit(1)).otherwise(F.lit(0)).cast("long"),
                b,
            )
        )
    return votes.select(F.col(id_col), sh.alias("sh"))


def simhash_bands(sh: Column, bands: int = 4) -> Column:
    """Split a 64-bit SimHash into ``bands`` equal bit-slices for
    Hamming blocking: array<struct<band int, bv bigint>>. Docs within
    Hamming distance < bands share at least one band (pigeonhole)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(sh, i * width).bitwiseAND(F.lit(mask)).alias("bv"),
            )
            for i in range(bands)
        ]
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    token_col: str,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup mining: banded blocking (only docs sharing a
    16-bit band slice meet in the join) + exact Hamming verification
    via ``bit_count(xor)``. Returns (doc_a, doc_b, hamming). The band
    join shuffles only (band, slice, id) — 20 bytes/row at 100 TB."""
    from json2hbase_spark.io import widen

    # materialize the COMPACT per-doc signature table (one BIGINT per
    # doc) rather than the banded explode: the self-join's two sides
    # then re-derive the cheap banding projection from the cached
    # signatures instead of re-running tokenize+vote-agg per side
    sh = materialize(simhash_agg(widen(df), id_col, token_col))
    banded = sh.select(
        F.col(id_col).alias("_id"),
        F.col("sh"),
        F.explode(simhash_bands(F.col("sh"), bands)).alias("_b"),
    ).select("_id", "sh", "_b.band", "_b.bv")
    left = banded.select(
        F.col("band").alias("l_band"), F.col("bv").alias("l_bv"),
        F.col("_id").alias("doc_a"), F.col("sh").alias("sh_a"),
    )
    right = banded.select(
        F.col("band").alias("r_band"), F.col("bv").alias("r_bv"),
        F.col("_id").alias("doc_b"), F.col("sh").alias("sh_b"),
    )
    return (
        left.join(
            right,
            (left.l_band == right.r_band)
            & (left.l_bv == right.r_bv)
            & (left.doc_a < right.doc_b),
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
