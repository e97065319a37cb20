"""LLM-operator tests: MinHash accuracy vs exact Jaccard, cosine
anchors, LSH recall on planted near-dups, multimodal plumbing
(FIXTURES.md §3)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from json2hbase_spark.operators.dedup import (
    char_shingles,
    jaccard,
    lsh_bands,
    minhash_from_stream,
    near_dup_pairs,
    normalize_text,
    simhash_agg,
)
from json2hbase_spark.operators.scaling import seeded_planes
from json2hbase_spark.operators.similarity import (
    ann_topk_lsh,
    cosine,
    cosine_topk,
    l2_norm,
    l2_normalize,
    lsh_bucket,
)

U64 = (1 << 64) - 1


def _signed(u: int) -> int:
    """Two's-complement int64 of an unsigned 64-bit value."""
    return u - (1 << 64) if u >> 63 else u


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate estimates Jaccard within ±0.15 at 64
    hashes for anchor pairs at J ≈ {0, ~0.5, 1}."""
    base = "abcdefghij" * 6
    half = base[:30] + "XYZ" + base[33:]  # most shingles shared
    disjoint = "0123456789" * 6
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, half), (4, disjoint)], "id INT, t STRING"
    )
    sh = df.select("id", char_shingles(F.col("t"), 8).alias("sh"))
    stream = sh.select("id", F.explode("sh").alias("_s"))
    sigs = {r.id: r.sig for r in minhash_from_stream(stream, "id").collect()}
    rows = {r.id: (set(r.sh), sigs[r.id]) for r in sh.collect()}

    def est(a, b):
        return sum(x == y for x, y in zip(rows[a][1], rows[b][1])) / 64

    def exact(a, b):
        sa, sb = rows[a][0], rows[b][0]
        return len(sa & sb) / len(sa | sb)

    for a, b in [(1, 2), (1, 3), (1, 4)]:
        assert abs(est(a, b) - exact(a, b)) <= 0.15, (a, b, est(a, b), exact(a, b))
    assert est(1, 2) == 1.0 and exact(1, 4) == 0.0


def test_near_dup_pairs_finds_planted_dups(spark):
    docs = [(1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and AGAIN"),
            (3, "completely different text with nothing shared at all here!!")]
    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    pairs = near_dup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.8


def test_cosine_anchors(spark):
    import math

    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    mix = [1 / math.sqrt(2), 1 / math.sqrt(2)] + [0.0] * 62
    neg = [-1.0] + [0.0] * 63
    df = spark.createDataFrame(
        [(1, e1, e2), (2, e1, mix), (3, e1, neg), (4, e1, e1)],
        "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    out = {r.id: r.c for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - 1 / math.sqrt(2)) < 1e-12
    assert out[3] == -1.0 and out[4] == 1.0


def test_l2_normalize_unit_norm(spark, sf_dir):
    from json2hbase_spark.io import load

    emb = load(spark, sf_dir, "embeddings").limit(50)
    normed = emb.select(l2_norm(l2_normalize(F.col("embedding"))).alias("n"))
    for r in normed.collect():
        assert abs(r.n - 1.0) < 1e-9


def test_ann_lsh_subset_of_exact_topk(spark, sf_dir):
    """LSH ANN results must be true cosine scores; for each query the
    approximate neighbors are a subset of the exact top-50."""
    import random

    from json2hbase_spark.io import load

    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    exact = {
        (r.qid, r.cid): r.sim for r in cosine_topk(q, c, 50).collect()
    }
    approx = ann_topk_lsh(q, c, 5, planes).collect()
    assert len(approx) > 0
    for r in approx:
        if (r.qid, r.cid) in exact:
            assert abs(exact[(r.qid, r.cid)] - r.sim) < 1e-12


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d", "e"]), (2, ["a", "b", "c", "d", "f"]), (3, ["x", "y", "z", "w", "v"])],
        "id INT, toks ARRAY<STRING>",
    )
    out = {r.id: r.sh for r in simhash_agg(df, "id", "toks").collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_multimodal_metadata_and_stub(spark):
    import pytest

    from json2hbase_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"hello world")), (2, bytearray(b""))],
                               "doc_id LONG, data BINARY")
    meta = {r.doc_id: r for r in multimodal.extract_metadata(df).collect()}
    assert meta[1].n_bytes == 11 and meta[1].header_hex == b"hello wo".hex().upper()
    assert meta[2].n_bytes == 0 and meta[2].header_hex == ""
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_jaccard_empty_sets(spark):
    df = spark.createDataFrame([(1,)], "id INT").select(
        jaccard(
            F.expr("CAST(array() AS array<string>)"), F.expr("CAST(array() AS array<string>)")
        ).alias("j"),
        jaccard(F.array(F.lit("x")), F.expr("CAST(array() AS array<string>)")).alias("j2"),
    )
    row = df.first()
    assert row.j == 0.0 and row.j2 == 0.0


def _shingles8(n):
    return {n[k : k + 8] for k in range(len(n) - 7)}


def _jac(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _block_pairs_reference(docs, t):
    """Pure-Python twin of ``block_pairs(block_shingles(df), t)``."""
    sh = {i: (n[:40], _shingles8(n)) for i, n in docs if len(n) >= 8}
    return {
        (i, j, _jac(a, b))
        for i, (blk_a, a) in sh.items()
        for j, (blk_b, b) in sh.items()
        if i < j and blk_a == blk_b and _jac(a, b) >= t
    }


def test_block_pairs_matches_reference(spark, count_jobs):
    """The blocked exact-Jaccard kernel gives a pure-Python reference's
    pairs, bit for bit, on a small corpus with planted edge cases, and
    building its shingle table runs one job."""
    import random

    from json2hbase_spark.operators.dedup import block_pairs, block_shingles

    planted = {
        # one block: 3 shared shingles of 10, J = 3/10 (kept at 0.3)
        1: "a" * 40 + "xyABC",
        2: "a" * 40 + "xyDEFG",
        # one block: 2 shared shingles of 7, J = 2/7 (dropped)
        3: "b" * 40 + "xPQ",
        4: "b" * 40 + "xRST",
        # shorter than 8 chars: no shingle table row
        5: "seven!!",
        6: "seven!!",
        # 40-char prefixes differ in the last char: J >= 0.3, no pair
        7: "c" * 39 + "X" + "the same long tail of text",
        8: "c" * 39 + "Y" + "the same long tail of text",
    }
    rng = random.Random(7)
    heads = ["".join(rng.choice("pq ") for _ in range(40)) for _ in range(4)]
    docs = list(planted.items()) + [
        (100 + i, rng.choice(heads) + "".join(rng.choice("pqr ") for _ in range(rng.randint(0, 120))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, norm STRING")

    assert count_jobs(lambda: block_shingles(df)) == 1
    sh = block_shingles(df)
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in block_pairs(sh, 0.3).collect()}
    want = _block_pairs_reference(docs, 0.3)
    assert got == want
    assert 10 < len(got) < len(_block_pairs_reference(docs, 0.0))

    pair_ids = {(x, y) for x, y, _ in got}
    assert _jac(_shingles8(planted[1]), _shingles8(planted[2])) == 3 / 10
    assert (1, 2, 0.3) in got
    assert _jac(_shingles8(planted[3]), _shingles8(planted[4])) == 2 / 7
    assert (3, 4) not in pair_ids
    assert not {5, 6} & {r.doc_id for r in sh.collect()}
    assert _jac(_shingles8(planted[7]), _shingles8(planted[8])) >= 0.3
    assert (7, 8) not in pair_ids
    assert all(x < y for x, y in pair_ids)


def test_array_intersect_only_in_dedup():
    """Shingle-set overlap is spelled once, in ``operators/dedup.py``
    (``jaccard``): a plan module calls the kernel instead of copying
    the formula."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "json2hbase_spark"
    hits = [
        f"{path.relative_to(pkg).as_posix()}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "array_intersect" in line
    ]
    assert [h.split(":")[0] for h in hits] == ["operators/dedup.py"], hits


def test_normalize_text(spark):
    df = spark.createDataFrame([("  Hello   WORLD\t\nfoo  ",)], "t STRING")
    assert df.select(normalize_text(F.col("t")).alias("n")).first().n == "hello world foo"


def test_minhash_from_stream_matches_python_reference(spark):
    """Signature slot h is the per-doc min of family h, derived in
    Python from the two collected base hashes: xxhash64(s), rotated
    and XORed with xxhash64(1, s), wrapped to a signed int64."""
    rng = random.Random(11)
    rows = [(d, f"w{rng.randrange(4000)}") for d in range(37) for _ in range(rng.randrange(1, 120))]
    stream = spark.createDataFrame(rows, "id INT, _s STRING")
    base = stream.selectExpr("id", "xxhash64(_s) AS b0", "xxhash64(1, _s) AS b1").collect()

    def family(b0: int, b1: int, h: int) -> int:
        u = b1 & U64
        rot = ((u >> h) | (u << (64 - h))) & U64 if h else 0
        return _signed((b0 & U64) ^ rot)

    want: dict[int, list[int]] = {}
    for r in base:
        fams = [family(r.b0, r.b1, h) for h in range(64)]
        want[r.id] = [min(a, b) for a, b in zip(want[r.id], fams)] if r.id in want else fams
    got = {r.id: r.sig for r in minhash_from_stream(stream, "id").collect()}
    assert got == want


def test_simhash_agg_matches_python_reference(spark):
    """Bit b of a doc's SimHash is set iff more than half of its token
    occurrences hash with bit b set (a tie gives 0), over collected
    xxhash64(token) values; bit 63 comes out as the int64 sign."""
    rng = random.Random(5)
    docs = [(d, [f"t{rng.randrange(50)}" for _ in range(rng.randrange(1, 9))]) for d in range(30)]
    docs.append((30, list(docs[0][1])))  # identical token set to doc 0
    df = spark.createDataFrame(docs, "id INT, toks ARRAY<STRING>")
    hashes: dict[int, list[int]] = {}
    for r in df.selectExpr("id", "explode(toks) AS t").selectExpr("id", "xxhash64(t) AS h").collect():
        hashes.setdefault(r.id, []).append(r.h & U64)

    def reference(hs: list[int]) -> int:
        ones = [sum(h >> b & 1 for h in hs) for b in range(64)]
        return _signed(sum(1 << b for b in range(64) if 2 * ones[b] > len(hs)))

    want = {d: reference(hs) for d, hs in hashes.items()}
    ties = [
        d for d, hs in hashes.items()
        if any(2 * sum(h >> b & 1 for h in hs) == len(hs) for b in range(64))
    ]
    assert ties and any(v < 0 for v in want.values())  # both edge cases occur
    got = {r.id: r.sh for r in simhash_agg(df, "id", "toks").collect()}
    assert got == want
    assert got[0] == got[30]


def test_lsh_bucket_matches_python_fold(spark):
    """The SQL plane literals keep every double exactly, whatever its
    repr (exponent, negative zero, 17 digits): buckets equal a Python
    left fold of the same products."""
    rng = random.Random(3)
    planes = [[rng.gauss(0, 1) for _ in range(4)] for _ in range(5)]
    planes.append([1e-05, -0.0, 3e20, -1.2345678901234567])
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "id INT, v ARRAY<DOUBLE>")

    def bucket(v: list[float]) -> int:
        out = 0
        for i, p in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, p):
                acc += x * y
            out += 2**i if acc >= 0 else 0
        return out

    got = {r.id: r.b for r in df.select("id", lsh_bucket("v", planes).alias("b")).collect()}
    assert got == {i: bucket(v) for i, v in vecs}


def test_hash_operator_builds_take_constant_round_trips(spark, round_trips):
    """Each hashing operator's expression is SQL text parsed once: its
    plan builds in a few Py4J commands (thousands when it was built one
    Column per hash family or bit), and more LSH planes add none."""
    stream = spark.createDataFrame([], "id INT, _s STRING")
    toks = spark.createDataFrame([], "id INT, toks ARRAY<STRING>")
    sigs = spark.createDataFrame([], "id INT, sig ARRAY<BIGINT>")
    vecs = spark.createDataFrame([], "id INT, v ARRAY<DOUBLE>")
    planes6, planes12 = seeded_planes(6), seeded_planes(12)
    assert round_trips(lambda: minhash_from_stream(stream, "id")) <= 50
    assert round_trips(lambda: simhash_agg(toks, "id", "toks")) <= 50
    assert round_trips(lambda: sigs.select(lsh_bands("sig"))) <= 50
    six = round_trips(lambda: vecs.select(lsh_bucket("v", planes6)))
    assert six <= 50
    assert round_trips(lambda: vecs.select(lsh_bucket("v", planes12))) == six


def test_simhash_near_pairs_finds_planted_dup(spark):
    from json2hbase_spark.operators.dedup import simhash_near_pairs

    # NOTE: a single-token edit on a SHORT doc flips ~7/64 bits (vote
    # margins scale with sqrt(doc length)), so banding at Hamming<=3 is
    # only guaranteed for true near-identical docs — test exactly that.
    base = [f"tok{i}" for i in range(40)]
    rows = [
        (1, base),
        (2, list(base)),  # exact token-multiset duplicate -> Hamming 0
        (3, [f"other{i}" for i in range(40)]),
    ]
    df = spark.createDataFrame(rows, "id INT, toks ARRAY<STRING>")
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(df, "id", "toks").collect()}
    assert got == {(1, 2): 0}


def test_ivf_centroids_and_ann(spark):
    from json2hbase_spark.operators.similarity import ann_topk_ivf, ivf_centroids

    rows = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [0.95, 0.05], 0),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1), (5, [0.05, 0.95], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    cents = {r.label: r.centroid for r in ivf_centroids(emb).collect()}
    assert len(cents) == 2 and len(cents[0]) == 2
    assert cents[0][0] > cents[0][1]  # label-0 centroid points along x

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = ann_topk_ivf(q, emb, k=2, nprobe=1).collect()
    # query 0 lands in list 0 and must only see its own list's members
    assert {r.cid for r in got} == {1, 2}


def test_ann_lsh_same_bucket_only(spark):
    from json2hbase_spark.operators.similarity import ann_topk_lsh

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.2]), (2, [-1.0, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    planes = [[1.0, 0.0]]  # one plane splitting on the sign of x
    got = ann_topk_lsh(q, c, k=5, planes=planes).collect()
    assert {r.cid for r in got} == {1}  # vec 2 is in the other half-space


def test_bpe_ish_tokens(spark):
    from json2hbase_spark.operators.text import bpe_ish_tokens

    df = spark.createDataFrame([("Ab2c, d-e 42",)], "t STRING")
    toks = df.select(bpe_ish_tokens(F.col("t")).alias("tk")).first().tk
    assert toks == ["ab", "2", "c", ",", "d", "-", "e", "42"]


def test_j31_uniform_tokens_score_is_log_inv_vocab(spark):
    """With every token equally frequent, avg log p = ln(1/V) exactly."""
    import math

    from json2hbase_spark.plans import llm_queries  # noqa: F401 (registers)
    from json2hbase_spark.registry import QUERIES

    # 4 docs x 3 distinct tokens, each token appears 4 times -> p = 1/3
    rows = [(i, "en", "aa bb cc") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    import tempfile

    d = tempfile.mkdtemp(prefix="j31_fixture_")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = QUERIES["j31_unigram_logprob"](spark, d).collect()
    assert len(out) == 4
    for r in out:
        assert r.n_toks == 3
        assert abs(r.lm_score - round(math.log(1 / 3), 4)) < 1e-9


def test_j32_repetition_bounds(spark, sf_dir):
    """rep_ratio in [0,1); a fully repeated doc scores high, distinct
    trigram docs score 0; n_uniq <= n_tri always."""
    from json2hbase_spark.registry import QUERIES
    from json2hbase_spark.plans import llm_queries  # noqa: F401

    out = QUERIES["j32_repetition"](spark, sf_dir)
    bad = out.filter(
        (F.col("rep_ratio") < 0)
        | (F.col("rep_ratio") >= 1)
        | (F.col("n_uniq") > F.col("n_tri"))
    )
    assert bad.count() == 0
    assert out.count() > 0


def test_h12_bitmap_matches_count_distinct(spark):
    """Bitmap popcount-sum equals count(distinct) on random ids."""
    import random

    rnd = random.Random(7)
    rows = [(rnd.randint(0, 3), rnd.randint(1, 500)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "g INT, uid LONG")
    per = (
        df.select(
            "g",
            F.bitmap_bucket_number("uid").alias("bkt"),
            F.bitmap_bit_position("uid").alias("pos"),
        )
        .groupBy("g", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    got = {
        r.g: r.n
        for r in per.groupBy("g").agg(F.sum(F.bitmap_count("bm")).alias("n")).collect()
    }
    want = {
        r.g: r.n
        for r in df.groupBy("g").agg(F.countDistinct("uid").alias("n")).collect()
    }
    assert got == want


def test_j124_manifest_reconciles_with_j27_and_hashes_fill_order(spark, sf_dir):
    """The manifest's per-pack tallies equal j27's packing exactly;
    end offsets telescope to the per-language token totals; docs_md5
    equals a python recompute of the fill-order member list."""
    import hashlib

    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.llm_queries import PACK_BUDGET

    registry.load_all_query_modules()
    man = {
        (r.lang, r.pack_id): r
        for r in registry.QUERIES["j124_pack_manifest"](spark, sf_dir).collect()
    }
    j27 = {
        (r.lang, r.pack_id): r
        for r in registry.QUERIES["j27_pack_sequences"](spark, sf_dir).collect()
    }
    assert set(man) == set(j27)
    for k, r in man.items():
        assert (r.n_docs, r.pack_tokens) == (j27[k].n_docs, j27[k].pack_tokens)
    toks = (
        load(spark, sf_dir, "documents")
        .select("lang", "doc_id", F.size(whitespace_tokens(F.col("text"))).alias("t"))
        .collect()
    )
    bylang: dict[str, list] = {}
    for r in toks:
        bylang.setdefault(r.lang, []).append((r.t, r.doc_id))
    for lang, lst in bylang.items():
        lst.sort(key=lambda x: (-x[0], x[1]))
        running, members = 0, {}
        for t, did in lst:
            running += t
            pack = -(-running // PACK_BUDGET)
            members.setdefault(pack, []).append(did)
        total = running
        assert max(r.end_offset for k, r in man.items() if k[0] == lang) == total
        for pack, ids in members.items():
            want = hashlib.md5(",".join(str(i) for i in ids).encode()).hexdigest()
            assert man[(lang, pack)].docs_md5 == want, (lang, pack)
