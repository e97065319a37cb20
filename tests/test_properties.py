"""Property-based tests (SURVEY.md §5 item 4): algebraic invariants
checked with hypothesis over generated inputs.

Strategy sizes are kept small (each example builds a Spark job); the
point is structural coverage — nulls, empties, duplicates, order — not
volume, which the sf-fixture oracle checks already provide.
"""

from __future__ import annotations

import json
import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTLE = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# scalars that survive JSON round-trips and canonical string casts
scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.text(alphabet="abcxyz 0-9", max_size=8),
)
# arrays are type-homogeneous: Spark's JSON schema inference coerces
# mixed-type arrays to array<string>, which stringifies empty nested
# containers into scalar leaves (e.g. [[], false] -> ["[]", "false"])
# — a legitimate inference behavior the leaf-count model below doesn't
# (and shouldn't) emulate.
_hom_array = st.one_of(
    st.lists(st.booleans(), max_size=3),
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=3),
    st.lists(st.text(alphabet="abcxyz", max_size=6), max_size=3),
    st.lists(
        # struct-field values exclude the EMPTY string: Spark's JSON
        # inference types "" as NullType, so a field seen as both
        # false and "" across array elements merges to boolean and
        # the "" leaf nulls out — correct engine behavior (hypothesis
        # found it: [{'p': False}, {'p': ''}]) that the schema-blind
        # leaf-count model cannot predict. Non-empty mixed types
        # merge to string and keep their cells, so they stay covered.
        st.dictionaries(
            st.text(alphabet="pq", min_size=1, max_size=2),
            st.one_of(
                st.none(),
                st.booleans(),
                st.integers(min_value=-(2**31), max_value=2**31 - 1),
                st.text(alphabet="abcxyz 0-9", min_size=1, max_size=8),
            ),
            max_size=2,
        ),
        max_size=3,
    ),
)
def test_kv_flatten_empty_string_vs_bool_field_nulls_out(spark):
    """Pin the engine behavior hypothesis uncovered: a struct field
    seen as both false and "" across array elements is inferred
    BOOLEAN (Spark types a bare "" as NullType), the "" parses to
    null, and kv_flatten rightly emits no cell for it — one cell
    total, not two. If inference semantics ever change, this pin
    moves instead of the property test silently flipping."""
    from json2hbase_spark.operators.flatten import kv_flatten

    d = {"a": [{"p": False}, {"p": ""}]}
    parsed = spark.read.json(spark.sparkContext.parallelize([json.dumps(d)]))
    assert parsed.schema["a"].dataType.elementType["p"].dataType.typeName() == "boolean"
    flat = kv_flatten(parsed.withColumn("rk", F.lit("r0")), "rk")
    rows = flat.collect()
    assert [(r.qualifier, r.value) for r in rows] == [("a.0.p", "false")]


json_doc = st.recursive(
    st.one_of(scalar, _hom_array),
    lambda children: st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=4), children, max_size=3
    ),
    max_leaves=8,
)


def _leaf_count(v) -> int:
    """Number of non-null scalar leaves kv_flatten must emit."""
    if isinstance(v, dict):
        return sum(_leaf_count(x) for x in v.values())
    if isinstance(v, list):
        return sum(_leaf_count(x) for x in v)
    return 0 if v is None else 1


@SETTLE
# one doc per example: the same key appearing with different types in
# DIFFERENT rows also triggers string coercion (e.g. false vs {}),
# which the leaf model intentionally does not emulate
@given(st.dictionaries(st.sampled_from("abcd"), json_doc, max_size=3).map(lambda d: [d]))
def test_kv_flatten_emits_one_cell_per_scalar_leaf(spark, docs):
    from json2hbase_spark.operators.flatten import kv_flatten

    rows = [{"rk": str(i), "doc": json.dumps(d)} for i, d in enumerate(docs)]
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in rows]))
    # parse the doc column into a typed struct via schema inference
    parsed = spark.read.json(df.rdd.map(lambda r: r.doc))
    if parsed.schema.fields and parsed.schema.fields[0].name != "_corrupt_record":
        parsed = spark.read.json(df.rdd.map(lambda r: r.doc))
        flat = kv_flatten(parsed.withColumn("rk", F.monotonically_increasing_id()), "rk")
        expected = sum(_leaf_count(d) for d in docs)
        assert flat.count() == expected


@SETTLE
@given(
    st.lists(st.integers(min_value=0, max_value=9), max_size=12),
    st.lists(st.integers(min_value=0, max_value=9), max_size=12),
)
def test_union_and_except_counts(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs], "v INT") if xs else spark.range(0).selectExpr("CAST(id AS INT) v")
    b = spark.createDataFrame([(y,) for y in ys], "v INT") if ys else spark.range(0).selectExpr("CAST(id AS INT) v")
    assert a.unionAll(b).count() == len(xs) + len(ys)
    # bag semantics of exceptAll: multiset difference
    from collections import Counter

    diff = Counter(xs) - Counter(ys)
    assert a.exceptAll(b).count() == sum(diff.values())


@SETTLE
@given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 10_000)), min_size=1, max_size=20))
def test_sessionize_invariant_under_row_order(spark, events):
    """Session assignment depends only on (user, ts) content, not on
    input row order — the batch algorithm the i3 oracle relies on."""
    from json2hbase_spark.operators.sessionize import sessionize

    rows = [(u, t * 1_000_000) for u, t in events]  # seconds -> micros

    def run(perm):
        df = spark.createDataFrame(perm, "user_id INT, us LONG").select(
            "user_id", F.timestamp_micros(F.col("us")).alias("ts")
        )
        out = sessionize(df, "user_id", "ts", gap_seconds=1800, tiebreak=None)
        return sorted((r.user_id, r.ts, r.session_id) for r in out.collect())

    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert run(rows) == run(shuffled)


@SETTLE
@given(st.integers(min_value=0, max_value=60))
def test_minhash_estimate_tracks_exact_jaccard(spark, overlap):
    """Signature agreement rate ≈ Jaccard within ±0.2 at 64 hashes for
    synthetic shingle sets with controlled overlap."""
    from json2hbase_spark.operators.dedup import minhash_from_stream

    shared = [f"s{i:02d}" for i in range(overlap)]
    a = shared + [f"a{i:02d}" for i in range(60 - overlap)]
    b = shared + [f"b{i:02d}" for i in range(60 - overlap)]
    exact = len(set(a) & set(b)) / len(set(a) | set(b))
    df = spark.createDataFrame([(1, a), (2, b)], "id INT, sh ARRAY<STRING>")
    stream = df.select("id", F.explode("sh").alias("_s"))
    sigs = {r.id: r.sig for r in minhash_from_stream(stream, "id").collect()}
    est = sum(x == y for x, y in zip(sigs[1], sigs[2])) / 64
    assert abs(est - exact) <= 0.2, (overlap, est, exact)


@SETTLE
@given(
    words=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=2, max_size=8),
        min_size=2,
        max_size=6,
    )
)
def test_ngram_jaccard_bounds_and_symmetry(spark, words):
    """Every emitted candidate pair has 0 < jacc <= 1, doc_a < doc_b,
    and n_inter never exceeds either side's gram count."""
    from json2hbase_spark.plans.corpus_queries import ngram_jaccard_pairs

    toks = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id INT, w array<string>"
    )
    for r in ngram_jaccard_pairs(toks, df_min=2, df_max=50).collect():
        assert r.doc_a < r.doc_b
        assert 0.0 < r.jacc <= 1.0
        assert r.n_inter >= 1


@SETTLE
@given(
    n_tokens=st.integers(min_value=1, max_value=300),
)
def test_rag_chunks_cover_every_token_exactly(spark, n_tokens):
    """Chunk fan-out invariants: chunk 0 starts at token 1, consecutive
    chunks start stride apart, every token lands in >=1 chunk, and
    total coverage equals sum of chunk lengths (with overlap)."""
    from json2hbase_spark.plans.corpus_queries import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        rag_chunks,
    )

    toks = spark.createDataFrame(
        [(1, [f"t{i}" for i in range(n_tokens)])], "doc_id INT, w array<string>"
    )
    rows = sorted(rag_chunks(toks).collect(), key=lambda r: r.chunk_idx)
    n_chunks = (max(n_tokens - 1, 0) // CHUNK_STRIDE) + 1
    assert [r.chunk_idx for r in rows] == list(range(n_chunks))
    assert all(r.n_tok >= 1 for r in rows)
    assert all(r.n_tok <= CHUNK_TOKENS for r in rows)
    # last chunk reaches the final token: start + len - 1 == n_tokens
    assert (n_chunks - 1) * CHUNK_STRIDE + rows[-1].n_tok == n_tokens


# ---------------------------------------------------------------- round-4b

pii_text = st.text(
    alphabet="ab @.:/09xyz", max_size=40
).map(lambda s: s.replace("\x00", ""))


@SETTLE
@given(texts=st.lists(pii_text, min_size=1, max_size=4))
def test_redact_pii_is_idempotent(spark, texts):
    """Redaction is a fixpoint: placeholders are lowercase and contain
    no matchable pattern, so redacting twice equals redacting once.
    One guaranteed-redactable row is planted so the property is
    exercised on every run, not only when hypothesis happens to draw
    a match."""
    from json2hbase_spark.plans.corpus_queries import redact_pii

    texts = [*texts, "mail a@b.cd or https://x.yz ref 1234567"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    once = df.select(redact_pii(F.col("text")).alias("r"))
    twice = once.select(redact_pii(F.col("r")).alias("r"))
    assert [r.r for r in once.collect()] == [r.r for r in twice.collect()]


words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
    min_size=0,
    max_size=14,
)


@SETTLE
@given(docs=st.lists(words, min_size=2, max_size=4))
def test_span_remove_consistent_with_span_stats(spark, docs):
    """For the same corpus and span width, a doc loses tokens IFF the
    span counter saw a duplicated span in it, and survivors are always
    a subset of the original token count."""
    from json2hbase_spark.plans.corpus_queries import span_dup_stats, span_remove

    rows = [(i, w) for i, w in enumerate(docs)]
    toks = spark.createDataFrame(rows, "doc_id long, w array<string>")
    stats = {r.doc_id: r for r in span_dup_stats(toks, w=3).collect()}
    removed = {r.doc_id: r for r in span_remove(toks, w=3).collect()}
    for d, w in rows:
        if len(w) < 3:
            assert d not in stats  # too short to span: counter drops it
            if d in removed:
                assert removed[d].n_removed == 0
            continue
        assert (stats[d].n_dup_spans > 0) == (removed[d].n_removed > 0)
        assert 0 <= removed[d].n_removed <= removed[d].n_tokens


@given(
    base=st.text(alphabet="abcdef gh", min_size=40, max_size=160),
    edit_pos=st.integers(min_value=0, max_value=30),
)
@example(base="aaaaaaaaaaaaaaaaaaaehgcebehaaaaaaaaaaaaa", edit_pos=26)
@SETTLE
def test_cdc_chunking_edit_locality(spark, base, edit_pos):
    """Content-defined chunking's defining property: a single-char
    edit changes only the chunks whose content actually changed — the
    chunk set AFTER the edit point's neighborhood is untouched (the
    classic LBFS argument: boundaries downstream of the edit are
    functions of unchanged windows). We verify the weaker, exact
    corollary: chunks of the ORIGINAL doc that lie entirely before or
    entirely after the edited window survive into the edited doc's
    chunk set."""
    import hashlib
    import os
    import tempfile

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    pos = min(edit_pos, len(base) - 1)
    edited = base[:pos] + ("z" if base[pos] != "z" else "q") + base[pos + 1 :]

    def chunks_of(text: str) -> list[tuple[int, str]]:
        # reference implementation of j78's boundary rule in pure Python
        W, M = 8, 64
        cuts = [
            p
            for p in range(2, max(len(text) - W + 1, 1) + 1)
            if int(hashlib.md5(text[p - 1 : p - 1 + W].encode()).hexdigest()[:15], 16) % M == 0
        ]
        bounds = [1] + cuts + [len(text) + 1]
        return [
            (bounds[i], text[bounds[i] - 1 : bounds[i + 1] - 1])
            for i in range(len(bounds) - 1)
        ]

    orig, edit = chunks_of(base), chunks_of(edited)
    # A cut p is a function of the window at 1-based positions
    # [p, p+W-1], so an edit at 1-based e = pos+1 can move every cut
    # p ∈ [e-W+1, e]. A chunk spanning [start, start+len-1] is bounded
    # by cuts at `start` and at `start+len` (its END boundary), so it
    # is safe on the before side only when that END cut is strictly
    # below the affected range: start+len < e-W+1, i.e.
    # start+len(c) < pos+2-W. (The earlier bound on start+len(c)-1
    # admitted end cuts landing exactly on e-W+1 — the pinned example
    # below is the hypothesis-found case where that cut vanishes.)
    W = 8
    safe = {
        c for (start, c) in orig
        if start + len(c) < pos + 2 - W or start > pos + 1 + W
    }
    edited_set = {c for (_, c) in edit}
    assert safe <= edited_set, (safe - edited_set, base, edited)
    # and the Spark operator agrees with the reference implementation
    d = tempfile.mkdtemp(prefix="j78_prop_")
    spark.createDataFrame(
        [(1, base, "en", "s", len(base))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    row = registry.QUERIES["j78_cdc_chunks"](spark, d).collect()[0]
    assert row.n_chunks == len(orig)
    assert row.n_distinct == len({c for (_, c) in orig})


@given(
    weights=st.lists(st.integers(min_value=1, max_value=10_000), min_size=3, max_size=60)
)
@SETTLE
def test_pps_pick_counts_match_pure_python(spark, weights):
    """j83's systematic PPS on arbitrary positive weights: the Spark
    plan's pick multiplicities must equal the pure-Python boundary
    walk (same md5 permutation, same integer arithmetic), total picks
    must be exactly K, and every pick count must be within the
    floor/ceil bracket of its exact expectation K·w/W."""
    import hashlib
    import math

    from json2hbase_spark.plans.curation_queries import PPS_K

    docs = spark.createDataFrame(
        [(i, "x", "en", "s", w) for i, w in enumerate(weights)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="j83_prop_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    got = {
        r.doc_id: r.n_picks
        for r in registry.QUERIES["j83_pps_sample"](spark, d).collect()
    }
    # pure-python twin
    order = sorted(
        range(len(weights)),
        key=lambda i: (hashlib.md5(f"pps:{i}".encode()).hexdigest(), i),
    )
    total = sum(weights)
    cum, want = 0, {}
    for i in order:
        lo, cum = cum, cum + weights[i]
        picks = (cum * PPS_K) // total - (lo * PPS_K) // total
        if picks:
            want[i] = picks
    assert got == want
    assert sum(got.values()) == PPS_K
    for i, p in got.items():
        exact = PPS_K * weights[i] / total
        assert math.floor(exact) <= p <= math.ceil(exact) + 1


@given(
    jacc=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@SETTLE
def test_band_detect_prob_matches_pow(spark, jacc):
    """j81's repeated-squaring detection probability equals the
    textbook 1-(1-j^r)^b within float noise, for every shipped config,
    and is monotone non-decreasing in j."""
    from json2hbase_spark.plans.curation_queries import (
        BAND_CONFIGS,
        _detect_sql,
    )
    import duckdb

    con = duckdb.connect()
    for b, r in BAND_CONFIGS:
        expr = _detect_sql(f"CAST({jacc!r} AS DOUBLE)", b, r)
        got = con.execute(f"SELECT {expr}").fetchone()[0]
        want = 1.0 - (1.0 - jacc**r) ** b
        assert abs(got - want) < 1e-9, (b, r, jacc)
        # monotonicity probe against a slightly larger j
        j2 = min(1.0, jacc + 1e-3)
        got2 = con.execute(
            f"SELECT {_detect_sql(f'CAST({j2!r} AS DOUBLE)', b, r)}"
        ).fetchone()[0]
        assert got2 >= got - 1e-12


@given(
    toks=st.lists(
        st.text(alphabet="abcxyz0189", min_size=1, max_size=8), min_size=1, max_size=30
    )
)
@SETTLE
def test_feature_hash_matches_pure_python(spark, toks):
    """j82's bucket/sign/normalization pipeline agrees with a pure
    Python md5 reimplementation on arbitrary token bags."""
    import hashlib
    import math
    import os
    import tempfile

    from json2hbase_spark import registry
    from json2hbase_spark.plans.curation_queries import FH_DIM

    text = " ".join(toks)
    d = tempfile.mkdtemp(prefix="j82_prop_")
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    registry.load_all_query_modules()
    row = registry.QUERIES["j82_feature_hash_embed"](spark, d).collect()[0]
    v = [0] * FH_DIM
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        v[int(h[:8], 16) % FH_DIM] += 1 if h[8] in "01234567" else -1
    nrm = math.sqrt(sum(x * x for x in v))
    want = [0.0] * FH_DIM if nrm == 0 else [x / nrm for x in v]
    got = [getattr(row, f"fh{k}") for k in range(FH_DIM)]
    assert row.n_toks == len(toks)
    for g, w in zip(got, want):
        assert abs(g - w) < 1e-12


@given(rank=st.integers(min_value=1, max_value=50))
@SETTLE
def test_rrf_contribution_monotone(spark, rank):
    """RRF's defining property: a better (smaller) rank in either list
    never lowers the fused score — round(1/(60+r),6) must be strictly
    decreasing in r over the candidate range (no rounding plateau that
    would make rank improvements invisible)."""
    a = round(1.0 / (60 + rank), 6)
    b = round(1.0 / (60 + rank + 1), 6)
    assert a > b, (rank, a, b)


@SETTLE
@given(
    weights=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
    n_buckets=st.sampled_from([1, 2, 5, 32, 256, 65536]),
)
def test_bucketed_cumsum_equals_ordered_cumsum(spark, weights, n_buckets):
    """operators/prefix: for ANY weights and ANY bucket count, the
    bucketed two-pass prefix sum over an md5-keyed order equals the
    plain ordered cumsum computed in Python — bucketing is an
    execution detail, invisible in the values. Also pins the
    hex_prefix_bucket monotonicity the decomposition relies on."""
    import hashlib

    from json2hbase_spark.operators.prefix import bucketed_cumsum, hex_prefix_bucket

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id int, w long").withColumn(
        "hkey", F.md5(F.concat(F.lit("p:"), F.col("doc_id").cast("string")))
    )
    out = bucketed_cumsum(
        df.withColumn("_bkt", hex_prefix_bucket(F.col("hkey"), n_buckets)),
        "_bkt",
        ["hkey", "doc_id"],
        "w",
        "c",
    ).collect()
    got = {r["doc_id"]: r["c"] for r in out}
    order = sorted(rows, key=lambda t: (hashlib.md5(f"p:{t[0]}".encode()).hexdigest(), t[0]))
    acc, want = 0, {}
    for i, w in order:
        acc += w
        want[i] = acc
    assert got == want
    # monotone: bucket order never contradicts key order
    key_bkt = sorted(
        (hashlib.md5(f"p:{i}".encode()).hexdigest(), b)
        for i, b in ((r["doc_id"], r["_bkt"]) for r in out)
    )
    assert all(a[1] <= b[1] for a, b in zip(key_bkt, key_bkt[1:]))
