"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2 J1/J2/J9/J15; PAPERS.md similarity corpus).

Exact dedup is a hash group-by. Near-dup has two hashed forms and one
exact one, all built from native Catalyst expressions (xxhash64, bit
arithmetic, higher-order functions), with no Python UDFs:

- MinHash-LSH (j2, j9): a shingle-occurrence stream
  (``shingle_stream``), one 64-wide min-aggregate per doc
  (``minhash_from_stream``), 16 bands of 4 rows (``lsh_bands``), then
  exact-Jaccard verification of the band-sharing pairs
  (``near_dup_pairs``).
- SimHash (j15): one 64-bit vote per doc (``simhash_agg``), 4 bands of
  16 bits, Hamming distance at most 3 (``simhash_near_pairs``).
- Blocked exact Jaccard (j2v and the near-dup family):
  ``block_shingles`` + ``block_pairs``.

Each hashing operator has one form and fixed sizes (the constants
below). Its expression is SQL text parsed once, so building a plan
costs a constant number of JVM round trips, not one Py4J ``Column``
call per hash family or bit (tests/test_llm_ops.py pins them).

Scale analysis (the reason this shape wins at 100 TB):
- signatures: a map-side-combined aggregate, O(docs × shingles) hash
  work; the shuffle carries one signature row per doc
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

SHINGLE_K = 8
NUM_HASHES = 64  # one base-hash pair's rotations span exactly 64 families
LSH_BANDS = 16
LSH_ROWS = NUM_HASHES // LSH_BANDS
SIMHASH_BANDS = 4
MAX_HAMMING = 3  # < SIMHASH_BANDS: every kept pair shares a band


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


def _family(h: int) -> str:
    """MinHash family ``h`` of the base-hash pair ``(_b0, _b1)``:
    ``_b0`` XOR ``_b1`` rotated right by ``h`` (Spark SQL has no
    ``>>>`` operator, so the rotation is spelled out)."""
    if h == 0:
        return "_b0"
    return f"(_b0 ^ (shiftrightunsigned(_b1, {h}) | shiftleft(_b1, {64 - h})))"


def minhash_from_stream(stream: DataFrame, id_col: str) -> DataFrame:
    """Aggregation-form MinHash over a shingle-occurrence stream
    ``(id_col, _s)`` (``shingle_stream``'s shape) with two-base-hash family derivation: two xxhash64 evaluations per
    occurrence, family h = h0 XOR rotr(h1, h) — the bitwise analogue
    of Kirsch–Mitzenmacher double hashing (the multiply-add form would
    trip ANSI overflow checks; rotation+XOR is wrap-free and keeps the
    whole expression in codegen). Then one ``NUM_HASHES``-wide
    min-aggregate per doc (map-side combine before the shuffle), which
    reads the stream once. Versus hashing the string once per family
    this cuts the per-row string-hash work 32× while preserving the
    MinHash Jaccard estimator (tests/test_properties.py pins the
    accuracy bound). Rotations of one base pair span exactly 64
    families, the signature width. Returns (id_col, sig array<bigint>)."""
    hashed = stream.selectExpr(f"`{id_col}`", "xxhash64(_s) AS _b0", "xxhash64(1, _s) AS _b1")
    mins = ", ".join(f"min({_family(h)})" for h in range(NUM_HASHES))
    return hashed.groupBy(id_col).agg(F.expr(f"array({mins}) AS sig"))


def lsh_bands(sig: str) -> Column:
    """Split the signature column ``sig`` into ``LSH_BANDS`` buckets of
    ``LSH_ROWS`` values and hash each band:
    array<struct<band int, bh bigint>>.

    Deliberately NOT let-bound: slice/xxhash64/array/struct all
    compile in whole-stage codegen, and wrapping them in a
    higher-order ``transform`` binding forces interpreted evaluation
    (measured 2.1s → 9.0s for the banding stage at sf0.1). Callers
    must instead materialize a computed ``sig`` behind an exchange
    before banding — see ``near_dup_pairs``."""
    bands = ", ".join(
        f"named_struct('band', {b}, 'bh', xxhash64(slice(`{sig}`, {b * LSH_ROWS + 1}, {LSH_ROWS})))"
        for b in range(LSH_BANDS)
    )
    return F.expr(f"array({bands})")


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
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """j2: candidate pairs via MinHash-LSH banding, verified with exact
    shingle Jaccard >= threshold. Returns (doc_a, doc_b, jaccard).

    With 16 bands × 4 rows, P(candidate) = 1-(1-J^4)^16: ~0.04 at
    J=0.4, ~0.93 at J=0.8 — the usual S-curve for near-dup mining.
    r must stay ≥ 4 here: a 16×2 layout (knee 0.25) admits J≈0.1
    pairs as candidates at ~15% probability, which on a corpus with
    shared templates turns the verification join quadratic (measured
    7.4 s → 74 s at sf0.1 before reverting). The signature is one
    64-wide min-aggregate (``minhash_from_stream``), banded by
    ``lsh_bands``.
    """
    # shingle-occurrence stream + double-hashed min-agg: every stage of
    # the signature pipeline compiles in whole-stage codegen (no HOFs,
    # no array_distinct — min over the multiset equals min over the
    # set). The agg's exchange also hands the self-join below a shared
    # materialization point.
    stream = shingle_stream(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t0")),
        "_id",
        "_t0",
        SHINGLE_K,
    )
    # materialize the compact signature table; the self-join's two
    # sides re-derive the cheap banding projection from the cached
    # signatures instead of re-running the shingle+min-agg per side
    sigs = materialize(minhash_from_stream(stream, "_id"))
    banded = sigs.select("_id", F.explode(lsh_bands("sig")).alias("_b")).select(
        "_id", "_b.band", "_b.bh"
    )

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
            "_id", char_shingles(normalize_text(F.col("_t")), SHINGLE_K).alias("_sh")
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
    which at 100 TB is far below the token stream it summarizes. Each
    packed SUM is written twice in the vote expression; Catalyst
    computes equal aggregates once. Returns (id_col, sh BIGINT)."""
    hashed = df.selectExpr(f"`{id_col}`", f"explode(`{token_col}`) AS _t").selectExpr(
        f"`{id_col}`", "xxhash64(_t) AS _h"
    )
    packed = [
        f"sum((shiftright(_h, {b}) & 1) + shiftleft(shiftright(_h, {b + 32}) & 1, 32))"
        for b in range(32)
    ]
    ones = [f"({p} & 4294967295L)" for p in packed] + [f"shiftright({p}, 32)" for p in packed]
    sh = " | ".join(
        f"shiftleft(CAST(2 * {n} > count(*) AS BIGINT), {b})" for b, n in enumerate(ones)
    )
    return hashed.groupBy(id_col).agg(F.expr(f"{sh} AS sh"))


def simhash_bands(sh: str) -> Column:
    """Split the 64-bit SimHash column ``sh`` into ``SIMHASH_BANDS``
    equal bit-slices for Hamming blocking: array<struct<band int,
    bv bigint>>. Docs within Hamming distance < SIMHASH_BANDS share at
    least one band (pigeonhole)."""
    width = 64 // SIMHASH_BANDS
    mask = (1 << width) - 1
    bands = ", ".join(
        f"named_struct('band', {i}, 'bv', shiftright(`{sh}`, {i * width}) & {mask})"
        for i in range(SIMHASH_BANDS)
    )
    return F.expr(f"array({bands})")


def simhash_near_pairs(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """SimHash near-dup mining: banded blocking (only docs sharing a
    16-bit band slice meet in the join) + exact Hamming verification
    via ``bit_count(xor)``, keeping pairs within ``MAX_HAMMING`` bits,
    all of which share a band. Returns (doc_a, doc_b, hamming). The band
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
        F.explode(simhash_bands("sh")).alias("_b"),
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
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )
