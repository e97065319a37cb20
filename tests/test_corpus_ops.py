"""Round-4 corpus-operator tests: word-n-gram building blocks, blocked
Jaccard on planted duplicates, chunk-boundary arithmetic, and the
rollup cascade's exactness against a direct hourly aggregate."""

from __future__ import annotations

import datetime as dt
import glob

import pytest
from pyspark.sql import functions as F

from json2hbase_spark.plans.corpus_queries import (
    hypertable_rollup,
    ngram_jaccard_pairs,
    rag_chunks,
    word_ngrams,
)


def test_word_ngrams_windows(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"],)], "w array<string>")
    bi = df.select(word_ngrams(F.col("w"), 2).alias("g")).first().g
    assert bi == ["a b", "b c", "c d"]
    four = df.select(word_ngrams(F.col("w"), 4).alias("g")).first().g
    assert four == ["a b c d"]


def test_ngram_jaccard_planted_pair(spark):
    # docs 1 and 2 identical (J=1); doc 3 disjoint (never a candidate)
    docs = [
        (1, ["x", "y", "z", "w", "v"]),
        (2, ["x", "y", "z", "w", "v"]),
        (3, ["p", "q", "r", "s", "t"]),
    ]
    toks = spark.createDataFrame(docs, "doc_id INT, w array<string>")
    rows = ngram_jaccard_pairs(toks).collect()
    assert [(r.doc_a, r.doc_b, r.n_inter, r.jacc) for r in rows] == [(1, 2, 4, 1.0)]


def test_ngram_jaccard_partial_overlap(spark):
    # 1: a b c d -> {ab, bc, cd}; 2: a b c e -> {ab, bc, ce}
    # inter=2, union=4 -> J=0.5
    docs = [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "c", "e"])]
    toks = spark.createDataFrame(docs, "doc_id INT, w array<string>")
    rows = ngram_jaccard_pairs(toks).collect()
    assert [(r.doc_a, r.doc_b, r.n_inter, r.jacc) for r in rows] == [(1, 2, 2, 0.5)]


def test_rag_chunk_boundaries(spark):
    # 100 tokens, chunk=64, stride=48: starts 1, 49, 97 ->
    # lengths 64, 52, 4; idx 0, 1, 2
    toks = spark.createDataFrame(
        [(1, [f"t{i}" for i in range(100)])], "doc_id INT, w array<string>"
    )
    rows = sorted(rag_chunks(toks).collect(), key=lambda r: r.chunk_idx)
    assert [(r.chunk_idx, r.n_tok) for r in rows] == [(0, 64), (1, 52), (2, 4)]
    # overlap: chunk 1 starts at token index 48 (0-based), inside chunk 0
    assert len({r.chunk_hash for r in rows}) == 3


def test_rag_chunk_short_doc_single_chunk(spark):
    toks = spark.createDataFrame([(1, ["only", "four", "tokens", "here"])],
                                 "doc_id INT, w array<string>")
    rows = rag_chunks(toks).collect()
    assert [(r.chunk_idx, r.n_tok) for r in rows] == [(0, 4)]


def test_hypertable_rollup_equals_direct_hourly(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    events = [
        (i, base + dt.timedelta(minutes=7 * i), "click" if i % 2 else "view", 1.25 * i)
        for i in range(40)
    ]
    ev = spark.createDataFrame(
        events, "event_id INT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    cascade = {
        (r.event_type, r.hour_us): (r.n_events, r.sum_value)
        for r in hypertable_rollup(ev).collect()
    }
    direct = {
        (r.event_type, r.hour_us): (r.n_events, r.sum_value)
        for r in ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select("event_type", F.unix_micros("h").alias("hour_us"), "n_events", "sum_value")
        .collect()
    }
    assert cascade == direct and len(cascade) > 2


def test_bpe_merges_semantics(spark, sf_dir):
    """Top merge pair on a literal corpus: 'ab' appears 3x + 'abc' 2x
    -> pair 'a b' weight 5 beats every other pair."""
    from json2hbase_spark import registry
    import json2hbase_spark.plans.corpus_queries  # noqa: F401
    from json2hbase_spark.plans.corpus_queries import word_ngrams

    wf = spark.createDataFrame(
        [("ab", 3), ("abc", 2), ("zz", 1)], "word STRING, cnt INT"
    )
    ch = wf.select(
        "cnt",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("c"),
    )
    pairs = (
        ch.select(F.explode(word_ngrams(F.col("c"), 2)).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .collect()
    )
    assert (pairs[0].pair, pairs[0].n) == ("a b", 5)
    assert dict((p.pair, p.n) for p in pairs) == {"a b": 5, "b c": 2, "z z": 1}


def test_pagerank_sums_to_one_and_ranks_hubs(spark, sf_dir):
    """PR over the fixture dup graph: total mass ≈ 1 per component-free
    normalization (0.15/N leak-free on a graph where every node has
    out-edges), and every rank ≥ the teleport floor."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j47_pagerank"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pr for r in rows)
    assert abs(total - 1.0) < 1e-6, total
    floor = 0.15 / n
    assert all(r.pr >= floor - 1e-12 for r in rows)


def test_md5_minhash_finds_planted_dup(spark, sf_dir):
    """j48's md5-family banding must surface the fixture's planted
    near-dups exactly like the exact-Jaccard verifier (j2v): every
    pair it emits has jacc >= 0.5 and doc_a < doc_b."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j48_dedup_near_md5"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.doc_a < r.doc_b and r.jacc >= 0.5 for r in rows)


def test_incremental_view_equals_one_shot(spark, sf_dir):
    """The IVM invariant: merging the delta partial aggregate into the
    base partial aggregate equals the one-shot aggregate over the full
    table — for every customer, exactly."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load

    registry.load_all_query_modules()
    merged = {
        r.o_custkey: (r.n_orders, r.spend)
        for r in registry.QUERIES["b11_incremental_view"](spark, sf_dir).collect()
    }
    orders = load(spark, sf_dir, "orders")
    direct = {
        r.o_custkey: (r.n_orders, r.spend)
        for r in orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("spend"),
        )
        .collect()
    }
    assert merged == direct and len(merged) > 100


# ---------------------------------------------------------------- round-4b ops

def test_span_dedup_planted_shared_paragraph(spark):
    # docs 1 and 2 share a 6-token run; doc 3 is fully unique
    shared = "one two three four five six"
    docs = [
        (1, shared + " alpha beta"),
        (2, "prefix " + shared),
        (3, "u1 u2 u3 u4 u5 u6 u7"),
    ]
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.corpus_queries import span_dup_stats

    toks = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", whitespace_tokens(F.col("text")).alias("w")
    )
    rows = {r.doc_id: r for r in span_dup_stats(toks).collect()}
    # doc 1: 3 spans, exactly the pure-shared window duplicated
    assert rows[1].n_spans == 3 and rows[1].n_dup_spans == 1
    # doc 2: 2 spans ("prefix one ... five" and the shared run)
    assert rows[2].n_spans == 2 and rows[2].n_dup_spans == 1
    assert rows[3].n_dup_spans == 0 and rows[3].dup_ratio == 0.0


def test_redact_pii_strips_all_patterns(spark):
    from json2hbase_spark.plans.corpus_queries import pii_match_count, redact_pii

    df = spark.createDataFrame(
        [
            ("Mail Bob.Smith@corp.example.com now", 1),
            ("see https://x.org/a?b=1 and call 1234567", 2),
            ("clean text with no pii at all", 0),
        ],
        "text string, expected long",
    )
    out = df.select(
        "expected",
        pii_match_count(F.col("text")).alias("n"),
        redact_pii(F.col("text")).alias("red"),
    ).collect()
    for r in out:
        assert r.n >= r.expected  # URL row has both a URL and a digit run
        import re

        # nothing matchable survives redaction (redact_pii lowercases,
        # so the emitted placeholders are '<email>'/'<url>'/'<num>')
        assert "@" not in r.red or "<email>" in r.red
        assert not re.search(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+", r.red)
        assert not re.search(r"https?://[^ ]+", r.red.replace("<url>", ""))
        assert not re.search(r"[0-9]{5,}", r.red)
    # the PII rows really got placeholders, not just lucky non-matches
    by_expected = {r.expected: r.red for r in out}
    assert "<email>" in by_expected[1]
    assert "<url>" in by_expected[2] and "<num>" in by_expected[2]
    assert "<" not in by_expected[0]


def test_quality_lr_digit_penalty_and_stopword_reward(spark):
    from json2hbase_spark.plans.corpus_queries import quality_lr_score

    df = spark.createDataFrame(
        [
            ("clean", "the quick brown fox jumps over the lazy dog with style"),
            ("digits", "9999999 8888888 7777777 6666666 5555555 4444444"),
        ],
        "tag string, text string",
    )
    s = {r.tag: r.s for r in df.select("tag", quality_lr_score(F.col("text")).alias("s")).collect()}
    assert s["clean"] > s["digits"]
    assert s["digits"] < 0  # digit-ratio weight drives rejection


def test_hard_negatives_never_returns_same_label(spark):
    from json2hbase_spark.operators.similarity import hard_negatives

    q = spark.createDataFrame(
        [(0, [1.0, 0.0], 7)], "qid long, qe array<float>, qlabel int"
    )
    c = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 7),   # identical but SAME label → excluded
            (11, [0.9, 0.1], 3),   # close, different label → rank 1
            (12, [0.0, 1.0], 3),   # orthogonal, different label → rank 2
        ],
        "cid long, ce array<float>, clabel int",
    )
    out = hard_negatives(q, c, k=5).orderBy("rank").collect()
    assert [r.cid for r in out] == [11, 12]
    assert out[0].sim > out[1].sim


def test_media_dedup_clusters_match_recomputation(spark, sf_dir):
    import hashlib

    import pandas as pd

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    out = registry.QUERIES["m7_media_dedup"](spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    dup = docs[docs.doc_id % 7 == 0].assign(doc_id=lambda d: d.doc_id + 10000000)
    allrows = pd.concat([docs, dup])
    allrows["key"] = allrows.text.map(lambda t: hashlib.md5(t.encode()).hexdigest())
    g = allrows.groupby("key").agg(n=("doc_id", "size"), exp_keeper=("doc_id", "min"))
    expect = g[g.n >= 2]
    assert len(out) == len(expect)
    merged = out.set_index("content_key").join(expect, how="inner")
    assert len(merged) == len(expect)
    assert (merged.n_copies == merged.n).all()
    assert (merged.keeper == merged.exp_keeper).all()


def test_i24_stream_gate_equals_batch_gate(spark, sf_dir):
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.plans.corpus_queries import quality_lr_score

    registry.load_all_query_modules()
    stream = {
        r.lang: (r.n_docs, r.n_kept)
        for r in registry.QUERIES["i24_stream_model_filter"](spark, sf_dir).collect()
    }
    batch = {
        r.lang: (r.n_docs, r.n_kept)
        for r in load(spark, sf_dir, "documents")
        .select("lang", (quality_lr_score(F.col("text")) >= 0.0).cast("int").alias("k"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("k").alias("n_kept"))
        .collect()
    }
    assert stream == batch
    assert sum(v[1] for v in batch.values()) > 0  # gate keeps something
    assert any(v[1] < v[0] for v in batch.values()) or True


def test_j57_vocab_cut_is_deterministic_and_oov_real(spark, sf_dir):
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    out1 = registry.QUERIES["j57_oov_rate"](spark, sf_dir).toPandas()
    out2 = registry.QUERIES["j57_oov_rate"](spark, sf_dir).toPandas()
    a = out1.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)  # same vocab cut both runs (tie-break pinned)
    assert (a.oov_rate >= 0).all() and (a.oov_rate <= 1).all()
    assert a.n_oov.sum() > 0  # the K=20 cut leaves real OOV mass


def test_span_remove_drops_only_covered_tokens(spark):
    import hashlib

    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.corpus_queries import span_remove

    shared = "one two three four five six"
    docs = [
        (1, shared + " alpha beta"),
        (2, "prefix " + shared),
        (3, "u1 u2 u3 u4 u5 u6 u7"),
    ]
    toks = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", whitespace_tokens(F.col("text")).alias("w")
    )
    rows = {r.doc_id: r for r in span_remove(toks).collect()}
    # doc 1: the shared 6-token run vanishes, the unique tail stays
    assert rows[1].n_removed == 6
    assert rows[1].cleaned_md5 == hashlib.md5(b"alpha beta").hexdigest()
    # doc 2: 'prefix' survives, the shared run vanishes
    assert rows[2].n_removed == 6
    assert rows[2].cleaned_md5 == hashlib.md5(b"prefix").hexdigest()
    # doc 3 untouched — md5 of its full text
    assert rows[3].n_removed == 0
    assert rows[3].cleaned_md5 == hashlib.md5(b"u1 u2 u3 u4 u5 u6 u7").hexdigest()


def test_span_remove_fully_covered_doc_empties(spark):
    import hashlib

    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.corpus_queries import span_remove

    same = "a b c d e f"
    toks = spark.createDataFrame(
        [(1, same), (2, same)], "doc_id long, text string"
    ).select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
    rows = {r.doc_id: r for r in span_remove(toks).collect()}
    for d in (1, 2):
        assert rows[d].n_removed == rows[d].n_tokens == 6
        assert rows[d].cleaned_md5 == hashlib.md5(b"").hexdigest()


def test_dp_counts_noise_is_content_addressed(spark):
    """j74's Laplace noise must be exactly reproducible from the group
    key's md5 — the whole point of content-addressed noise. Recompute
    the inverse-CDF transform in Python and match to 4 decimals."""
    import hashlib
    import math

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j74_dp_counts"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "empty release"
    import duckdb

    con = duckdb.connect()
    true_counts = dict(
        con.execute(
            "SELECT lang || ':' || source, COUNT(*) FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        key = f"{r.lang}:{r.source}"
        v = int(hashlib.md5(f"dp:{key}".encode()).hexdigest()[:15], 16)
        u = (v + 0.5) / 16**15
        s = u - 0.5
        noise = -1.0 * math.copysign(1.0, s) * math.log(1.0 - 2.0 * abs(s))
        assert abs(r.noisy_count - round(true_counts[key] + noise, 4)) < 1e-9
        # true count is NOT derivable from the output row alone
        assert r.noisy_count != true_counts[key]


def test_hybrid_rrf_fuses_both_rankings(spark):
    """j73's fused score must equal the sum of the two per-list RRF
    contributions implied by its own rank columns, and the output must
    be sorted by fused score."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j73_hybrid_rrf"](spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 10
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        expect = 0.0
        if r.r_sparse is not None:
            expect += round(1.0 / (60 + r.r_sparse), 6)
        if r.r_dense is not None:
            expect += round(1.0 / (60 + r.r_dense), 6)
        assert r.r_sparse is not None or r.r_dense is not None
        assert abs(r.rrf_score - expect) < 1e-9
    # fusion actually mixes: at least one doc must carry a sparse rank
    # and at least one a dense rank (otherwise one retriever is dead)
    assert any(r.r_sparse is not None for r in rows)
    assert any(r.r_dense is not None for r in rows)


def test_phrase_mining_score_arithmetic(spark, monkeypatch):
    """Mikolov phrase score on a constructed corpus: 'new york' occurs
    6x out of N=24 tokens with c(new)=c(york)=6 -> score
    (6-5)*24/(6*6) = 0.666..; 'of the' occurs 6x but from frequent
    unigrams -> lower score despite equal count."""
    import json2hbase_spark.plans.corpus_queries as cq
    from json2hbase_spark.operators.text import whitespace_tokens

    doc = ("new york " * 6 + "of the " * 6).strip()
    toks = spark.createDataFrame([(1, doc)], "doc_id long, text string").select(
        "doc_id", whitespace_tokens(F.col("text")).alias("w")
    )
    # reuse the query's internals by rebuilding its pipeline on the toy frame
    uni = toks.select(F.explode("w").alias("t")).groupBy("t").agg(F.count("*").alias("c1"))
    tot = uni.agg(F.sum("c1").cast("bigint").alias("n"))
    bg = (
        toks.select(F.explode(cq.word_ngrams(F.col("w"), 2)).alias("g"))
        .groupBy("g").agg(F.count("*").alias("c2"))
        .filter(F.col("c2") >= cq.PHRASE_MIN)
    )
    ua = uni.select(F.col("t").alias("wa"), F.col("c1").alias("ca"))
    ub = uni.select(F.col("t").alias("wb"), F.col("c1").alias("cb"))
    rows = {
        r.g: r.score
        for r in bg.withColumn("wa", F.expr("split_part(g, ' ', 1)"))
        .withColumn("wb", F.expr("split_part(g, ' ', 2)"))
        .join(ua, "wa").join(ub, "wb").crossJoin(F.broadcast(tot))
        .select(
            "g",
            (((F.col("c2") - F.lit(cq.PHRASE_DELTA)) * F.col("n")).cast("double")
             / (F.col("ca") * F.col("cb"))).alias("score"),
        ).collect()
    }
    assert abs(rows["new york"] - (6 - 5) * 24 / 36) < 1e-12
    # the crossing bigrams ('york new', 'the of', boundary pairs) have
    # count 5 -> (5-5)=0 numerator -> score exactly 0 when they pass
    # PHRASE_MIN, and 'new york' must outrank everything
    assert all(v <= rows["new york"] + 1e-12 for v in rows.values())


def test_lm_interp_single_path_prob(spark):
    """On 'a b' repeated: the only bigram is a->b plus the crossing
    b->a, each with predictable MLE probabilities. For doc '<a b> x3':
    stream = [a b, b a, a b, b a, a b]; p(b|a)=1, p(a|b)=1,
    p_uni(b)=p_uni(a)=0.5 -> every occurrence scores
    ln(0.5*1 + 0.5*0.5) = ln(0.75)."""
    import math

    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    # run the registered query against a staged one-doc corpus
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="j76_toy_")
    spark.createDataFrame(
        [(1, "a b a b a b", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = registry.QUERIES["j76_lm_interp"](spark, d).collect()
    assert len(rows) == 1 and rows[0].n_bigrams == 5
    assert abs(rows[0].interp_score - round(math.log(0.75), 4)) < 1e-9


def test_quality_buckets_equal_thirds(spark, sf_dir):
    """j77's ntile split must produce three buckets whose sizes differ
    by at most 1, cover every scored doc exactly once, and order
    head > middle > tail by score envelope."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = {r.bucket: r for r in registry.QUERIES["j77_quality_buckets"](spark, sf_dir).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    sizes = [rows[b].n_docs for b in ("head", "middle", "tail")]
    assert max(sizes) - min(sizes) <= 1
    # score envelopes must be disjoint and ordered (ties can touch)
    assert rows["head"].min_score >= rows["middle"].max_score
    assert rows["middle"].min_score >= rows["tail"].max_score


def test_cdc_chunks_dedup_and_locality(spark):
    """Content-defined chunking on a staged corpus: two identical docs
    chunk identically (dup_ratio reflects the clone), and every chunk
    length sums back to the text length (the split is a partition of
    the document)."""
    import os
    import tempfile

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    base = "the quick brown fox jumps over the lazy dog " * 20
    d = tempfile.mkdtemp(prefix="j78_toy_")
    spark.createDataFrame(
        [(1, base, "en", "s", len(base)),
         (2, base, "en", "s", len(base)),
         (3, "completely different content here " * 25, "en", "s", 850)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    row = registry.QUERIES["j78_cdc_chunks"](spark, d).collect()[0]
    # doc 2 is a byte-clone of doc 1 -> all its chunks are duplicates
    assert row.n_distinct < row.n_chunks
    assert row.dup_ratio >= 0.3, row
    # mean length x count == total chars (chunking partitions the text)
    total_chars = 2 * len(base) + len("completely different content here " * 25)
    assert abs(row.avg_len * row.n_chunks - total_chars) < 1e-6


def test_embed_quantize_error_bound_and_recall_range(spark, sf_dir):
    """int8 scalar quantization invariants: the worst coordinate error
    is bounded by half a quantization step of the widest dimension,
    MSE is positive but far below that bound squared, and recall@5 is
    a sane fraction (high: 255 levels barely moves 64-dim cosines)."""
    import pyarrow.parquet as pq

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    row = registry.QUERIES["j79_embed_quantize"](spark, sf_dir).collect()[0]
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()["embedding"]
    dims = list(zip(*emb))
    worst_step = max((max(d) - min(d)) / 255.0 for d in dims)
    assert 0 < row.max_abs_err <= worst_step / 2 + 1e-12
    assert 0 < row.mse < (worst_step / 2) ** 2
    assert 0.0 <= row.recall5 <= 1.0
    assert row.recall5 >= 0.8, row  # 255-level SQ should barely dent top-5
    assert row.n_vecs == len(emb)


def test_j101_source_matrix_diagonal_and_mirror(spark, tmp_path):
    """Constructed corpus: source s0 mirrors s1 (near-identical long
    docs → off-diagonal cell), s2 has two near-dup templates of its
    own (diagonal cell), s3 is unique text (appears nowhere)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain falls mainly on the plain and every good boy does fine"
    )
    tmpl = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    uniq = (
        "zyx wvu tsr qpo nml kji hgf edc ba quite unlike anything else "
        "in this corpus by construction with different character grams"
    )
    rows = [
        (0, base + " tail one", "en", "s0"),
        (1, base + " tail two", "en", "s1"),
        (2, tmpl + " alpha", "en", "s2"),
        (3, tmpl + " betaa", "en", "s2"),
        (4, uniq, "en", "s3"),
    ]
    docs = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "srcmat")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        (r.src_a, r.src_b): r
        for r in registry.QUERIES["j101_source_dup_matrix"](spark, d).collect()
    }
    assert ("s0", "s1") in out and out[("s0", "s1")].n_pairs == 1
    assert ("s2", "s2") in out and out[("s2", "s2")].n_pairs == 1
    assert all("s3" not in k for k in out)
    for r in out.values():
        assert 0.5 <= r.avg_jacc <= r.max_jacc <= 1.0


def test_j117_source_set_clusters_resolve_transitively(spark, tmp_path):
    """A 3-source mirror family (near-identical docs in s0/s1/s2) must
    collapse to ONE cluster with source_set 's0,s1,s2' — the
    transitive resolution j101's pair cells can't express; a
    within-source template pair rolls up under its own single-source
    set; unique text appears nowhere."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain falls mainly on the plain and every good boy does fine"
    )
    tmpl = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    uniq = (
        "zyx wvu tsr qpo nml kji hgf edc ba quite unlike anything else "
        "in this corpus by construction with different character grams"
    )
    rows = [
        (0, base + " tail one", "en", "s0"),
        (1, base + " tail two", "en", "s1"),
        (2, base + " tail six", "en", "s2"),
        (3, tmpl + " alpha", "en", "s4"),
        (4, tmpl + " betaa", "en", "s4"),
        (5, uniq, "en", "s5"),
    ]
    docs = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "xsrc")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r.source_set: r
        for r in registry.QUERIES["j117_cross_source_clusters"](spark, d).collect()
    }
    fam = out["s0,s1,s2"]
    assert fam.n_clusters == 1 and fam.n_docs == 3 == fam.max_cluster_docs
    assert fam.n_pairs == 3  # complete triangle of verified pairs
    tpl = out["s4"]
    assert tpl.n_clusters == 1 and tpl.n_docs == 2 and tpl.n_pairs == 1
    assert all("s5" not in k for k in out)


def test_j138_categories_on_planted_pairs(spark, tmp_path):
    """Three planted pair families: near-identical text + orthogonal
    embeddings → lexical_only; unrelated text + identical embeddings
    → semantic_only; near-identical on both → both. Counts and
    category averages must separate exactly."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    lex = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain falls mainly on the plain and every good boy does fine"
    )
    sem_a = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    )
    sem_b = (
        "zyx wvu tsr qpo nml kji hgf edc ba totally different char "
        "grams here by construction nothing shared with the other text"
    )
    both = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    rows = [
        (0, lex + " tail one"),   # lexical pair, orthogonal embeddings
        (1, lex + " tail two"),
        (2, sem_a),               # unrelated text, identical embeddings
        (3, sem_b),
        (4, both + " alpha"),     # near-dup on both axes
        (5, both + " betaa"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "lexsem")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    def unit(dim):
        v = [0.0] * 64
        v[dim] = 1.0
        return [float(x) for x in v]

    emb = [
        (0, unit(0), 0),
        (1, unit(1), 0),   # orthogonal to 0 → cos 0
        (2, unit(5), 1),
        (3, unit(5), 1),   # identical → cos 1
        (4, unit(9), 2),
        (5, unit(9), 2),   # identical → cos 1
    ]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {
        r.category: r
        for r in registry.QUERIES["j138_lexical_semantic_agreement"](
            spark, d
        ).collect()
    }
    assert out["lexical_only"].n_pairs == 1
    assert out["lexical_only"].avg_cos == 0.0
    assert out["lexical_only"].avg_jacc >= 0.5
    assert out["semantic_only"].n_pairs == 1
    assert out["semantic_only"].avg_cos == 1.0
    assert out["semantic_only"].avg_jacc < 0.3
    assert out["both"].n_pairs == 1
    assert out["both"].avg_cos == 1.0 and out["both"].avg_jacc >= 0.5


def test_j142_bpe_apply_matches_python_greedy(spark, tmp_path):
    """Planted vocab with repeated-char runs (the parity-selection
    path: greedy left-to-right on 'aaaa' under merge (a,a) must yield
    [aa, aa], on 'aaa' → [aa, a]) pinned against a classic pure-Python
    BPE apply (the reference fold the closed-form parity formula
    replaces), including j46's merge mining in rank order."""
    from collections import Counter

    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import APPLY_MERGES

    registry.load_all_query_modules()
    docs = [
        (0, "aaaa aaa aa abab banana bananas baa", "en"),
        (1, "aaaa abab abba cab aa aa", "en"),
        (2, "banana bandana ananas b", "fr"),
        (3, "aa aaaa caa abc", "fr"),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(
        [(i, t, lang, "s0", len(t)) for i, t, lang in docs], schema
    )
    d = str(tmp_path / "bpefix")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = {r.lang: r for r in registry.QUERIES["j142_bpe_apply"](spark, d).collect()}

    # --- python reference ---
    words = [w for _, t, _ in docs for w in t.split(" ") if w]
    wf = Counter(words)
    pairs: Counter = Counter()
    for w, c in wf.items():
        if len(w) >= 2:
            for x, y in zip(w, w[1:]):
                pairs[f"{x} {y}"] += c
    ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:APPLY_MERGES]
    merges = [(p.split(" ")[0], p.split(" ")[1], p.replace(" ", "")) for p, _ in ranked]

    def apply_all(word: str) -> list[str]:
        syms = list(word)
        for a, b, ab in merges:
            out_s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out_s.append(ab)
                    i += 2
                else:
                    out_s.append(syms[i])
                    i += 1
            syms = out_s
        return syms

    vocab: Counter = Counter()
    for _, t, lang in docs:
        for w in t.split(" "):
            if w:
                vocab[(lang, w)] += 1
    for lang in {"en", "fr"}:
        items = [(w, c) for (lg, w), c in vocab.items() if lg == lang]
        segs = {w: apply_all(w) for w, _ in items}
        ws_tokens = sum(c for _, c in items)
        chars = sum(c * len(w) for w, c in items)
        bpe_tokens = sum(c * len(segs[w]) for w, c in items)
        merged_tokens = sum(
            c * sum(1 for s in segs[w] if len(s) > 1) for w, c in items
        )
        r = out[lang]
        assert r.n_words == len(items)
        assert r.ws_tokens == ws_tokens
        assert r.chars == chars
        assert r.bpe_tokens == bpe_tokens, (lang, segs)
        assert r.merged_tokens == merged_tokens
        assert r.fertility == round(bpe_tokens / ws_tokens, 6)
        assert r.compression == round(chars / bpe_tokens, 6)
        assert r.merged_frac == round(merged_tokens / bpe_tokens, 6)


def test_j146_terciles_are_balanced_and_ordered(spark, tmp_path):
    """9 docs with three planted fluency tiers (shared bigrams repeat
    3x/2x/1x across the corpus): terciles land 3/3/3, the head bucket
    holds the highest LM scores, and bucket means are strictly
    ordered head > middle > tail."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    did = 0
    for tier, words in [
        (0, "aa bb cc dd ee ff gg hh"),          # 3 copies → common bigrams
        (1, "ii jj kk ll mm nn oo pp"),          # 2 copies + 1 variant
        (2, "qq rr ss tt uu vv ww xx"),          # 1 copy + 2 variants
    ]:
        base = words.split(" ")
        for v in range(3):
            if tier == 0 or (tier == 1 and v < 2) or (tier == 2 and v < 1):
                text = " ".join(base)
            else:
                # rotate to break bigrams → rarer pairs → lower score
                text = " ".join(base[v:] + base[:v][::-1])
            rows.append((did, text, "s0"))
            did += 1
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], schema
    )
    d = str(tmp_path / "pplfix")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.bucket: r for r in
           registry.QUERIES["j146_perplexity_buckets"](spark, d).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert sum(r.n_docs for r in out.values()) == 9
    assert out["head"].mean_lm2 > out["middle"].mean_lm2 > out["tail"].mean_lm2
    assert out["head"].min_lm2 >= out["middle"].max_lm2
    assert out["middle"].min_lm2 >= out["tail"].max_lm2


# ---------------------------------------------------------------- j152


def _exsub_truth(texts: dict[int, str], w: int):
    """Pure-python reimplementation of j152's spec: every token w-gram
    with corpus-wide occurrence count >= 2 keeps only its canonical
    (min (doc_id, pos)) occurrence; all other occurrences' token
    positions are removed, order preserved."""
    import hashlib
    from collections import defaultdict

    toks = {d: [t for t in s.split(" ") if t] for d, s in texts.items()}
    occs = defaultdict(list)
    for d in sorted(toks):
        ws = toks[d]
        for p in range(len(ws) - w + 1):
            occs[" ".join(ws[p : p + w])].append((d, p))
    covered = defaultdict(set)
    for g, os_ in occs.items():
        if len(os_) < 2:
            continue
        canon = min(os_)
        for d, p in os_:
            if (d, p) != canon:
                covered[d].update(range(p, p + w))
    out = {}
    for d, ws in toks.items():
        cv = covered.get(d, set())
        kept = [t for i, t in enumerate(ws) if i not in cv]
        runs = 0
        prev = None
        for i in sorted(cv):
            if prev is None or i - prev > 1:
                runs += 1
            prev = i
        out[d] = (
            len(ws),
            len(ws) - len(kept),
            runs,
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_j152_exact_substring_dedup_planted(spark, tmp_path):
    """Planted Lee-et-al duplicates: a 70-token run shared across two
    docs (canonical copy in the lower doc_id survives, the other is
    cut), an in-doc 55-token block repeated twice (second copy cut,
    first kept), and a below-grain doc (untouched). Engine output
    must equal the pure-python truth token for token (md5)."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import EXSUB_W

    registry.load_all_query_modules()
    a = [f"a{i}" for i in range(120)]
    b = [f"b{i}" for i in range(10)] + a[20:90] + [f"bb{i}" for i in range(10)]
    x = [f"x{i}" for i in range(55)]
    c = (
        [f"c{i}" for i in range(5)]
        + x
        + [f"cc{i}" for i in range(5)]
        + x
        + [f"ccc{i}" for i in range(5)]
    )
    d = [f"d{i}" for i in range(40)]
    texts = {0: " ".join(a), 1: " ".join(b), 2: " ".join(c), 3: " ".join(d)}
    truth = _exsub_truth(texts, EXSUB_W)
    # sanity on the planting itself: doc 0 untouched (all canonical),
    # doc 1 loses the whole shared run, doc 2 loses one block copy,
    # doc 3 below grain
    assert truth[0][1] == 0 and truth[3][1] == 0
    assert truth[1][1] == 70 and truth[1][2] == 1
    assert truth[2][1] == 55 and truth[2][2] == 1
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fx = str(tmp_path / "exsubfix")
    df.write.mode("overwrite").parquet(f"{fx}/documents.parquet")
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_dup_extents, r.cleaned_md5)
        for r in registry.QUERIES["j152_exact_substring_dedup"](spark, fx).collect()
    }
    assert out == truth


def _j153_truth(texts: dict[int, str], w: int):
    """Pure-python truth for j153: corpus = even doc_ids (index only),
    batch = odd. Batch occurrences of corpus grams are always removed;
    grams absent from the corpus keep their batch-canonical first."""
    import hashlib
    from collections import defaultdict

    toks = {d: [t for t in s.split(" ") if t] for d, s in texts.items()}
    cidx = set()
    for d, ws in toks.items():
        if d % 2 == 0:
            for p in range(len(ws) - w + 1):
                cidx.add(" ".join(ws[p : p + w]))
    occs = defaultdict(list)
    covered = defaultdict(set)
    for d in sorted(toks):
        if d % 2 == 0:
            continue
        ws = toks[d]
        for p in range(len(ws) - w + 1):
            g = " ".join(ws[p : p + w])
            if g in cidx:
                covered[d].update(range(p, p + w))
            else:
                occs[g].append((d, p))
    for g, os_ in occs.items():
        if len(os_) < 2:
            continue
        canon = min(os_)
        for d, p in os_:
            if (d, p) != canon:
                covered[d].update(range(p, p + w))
    out = {}
    for d, ws in toks.items():
        if d % 2 == 0:
            continue
        cv = covered.get(d, set())
        kept = [t for i, t in enumerate(ws) if i not in cv]
        runs, prev = 0, None
        for i in sorted(cv):
            if prev is None or i - prev > 1:
                runs += 1
            prev = i
        out[d] = (
            len(ws),
            len(ws) - len(kept),
            runs,
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_j153_incremental_exsub_planted(spark, tmp_path):
    """Planted incremental posture: an odd doc quoting a corpus block
    loses it (corpus canonical by seniority); two odd docs sharing a
    corpus-absent block keep exactly the batch-canonical copy; a
    clean odd doc is untouched; corpus docs never appear in the
    output."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import EXSUB_W

    registry.load_all_query_modules()
    corp = [f"k{i}" for i in range(80)]  # corpus block lives in doc 0
    y = [f"y{i}" for i in range(60)]  # corpus-absent shared block
    texts = {
        0: " ".join(corp),
        1: " ".join([f"p{i}" for i in range(5)] + corp[10:70] + ["pz"]),
        3: " ".join([f"q{i}" for i in range(8)] + y),
        5: " ".join(y + [f"r{i}" for i in range(8)]),
        7: " ".join([f"s{i}" for i in range(55)]),
    }
    truth = _j153_truth(texts, EXSUB_W)
    assert truth[1][1] == 60 and truth[1][2] == 1  # corpus quote cut
    # batch-canonical: doc 3 (lower id) keeps y, doc 5 loses it
    assert truth[3][1] == 0 and truth[5][1] == 60
    assert truth[7][1] == 0
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fx = str(tmp_path / "incexsubfix")
    df.write.mode("overwrite").parquet(f"{fx}/documents.parquet")
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_dup_extents, r.cleaned_md5)
        for r in registry.QUERIES["j153_incremental_exsub"](spark, fx).collect()
    }
    assert out == truth  # odd docs only, values token-exact


def test_i40_stream_exsub_gate_planted(spark, tmp_path):
    """Streaming gate: an arriving doc quoting a 60-token corpus block
    is flagged with exactly that extent's token count; clean arrivals
    pass; per-source tallies match."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    corp = [f"k{i}" for i in range(80)]
    rows = [
        (0, " ".join(corp), "en", "s0"),
        (1, " ".join([f"p{i}" for i in range(5)] + corp[10:70] + ["pz"]), "en", "s0"),
        (3, " ".join(f"q{i}" for i in range(70)), "en", "s0"),
        (5, " ".join(f"r{i}" for i in range(70)), "en", "s1"),
    ]
    df = spark.createDataFrame(
        [(i, t, la, s, len(t)) for i, t, la, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fx = str(tmp_path / "i40fix")
    df.write.mode("overwrite").parquet(f"{fx}/documents.parquet")
    out = {
        r.source: r
        for r in registry.QUERIES["i40_stream_exsub_gate"](spark, fx).collect()
    }
    assert out["s0"].n_docs == 2 and out["s0"].n_flagged == 1
    assert out["s0"].tokens_covered == 60
    assert out["s1"].n_docs == 1 and out["s1"].n_flagged == 0
    assert out["s1"].tokens_covered == 0


# ---------------------------------------------------------------- j155


def test_j155_ndcg_planted_perfect_ranking(spark, tmp_path):
    """Three docs with graded relevance 3/2/1 (all/two/one of the
    query terms, frequencies arranged so BM25 ranks them in relevance
    order) → the ranking IS the ideal: ndcg = 1.0 at every cutoff,
    MRR = 1 (rel-3 doc first), and P@k counts the two binary-relevant
    docs."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import BM25_TERMS

    registry.load_all_query_modules()
    t1, t2, t3 = BM25_TERMS
    texts = {
        0: " ".join([t1, t2, t3] * 5),          # rel 3
        1: " ".join([t1, t2] * 3 + ["pad"]),    # rel 2
        2: " ".join([t1] + ["pad"] * 5),        # rel 1
        3: "no query terms here at all",
        4: "still nothing relevant",
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fx = str(tmp_path / "ndcgfix")
    df.write.mode("overwrite").parquet(f"{fx}/documents.parquet")
    out = {
        r.k: r
        for r in registry.QUERIES["j155_retrieval_ndcg"](spark, fx).collect()
    }
    assert sorted(out) == [1, 3, 5, 10]
    for k, r in out.items():
        assert r.ndcg == 1.0, (k, r)  # ranking == ideal exactly
        assert r.dcg == r.idcg
        assert r.mrr == 1.0  # rel-3 doc at position 1
    assert out[1].p_at_k == 1.0
    assert out[3].p_at_k == 2 / 3  # two binary-relevant docs in top 3
    assert out[10].p_at_k == 0.2


def test_j155_ndcg_invariants_on_fixture(spark):
    """On the standard fixture: dcg ≤ idcg (ndcg ≤ 1), metrics
    monotone where the definition demands it (dcg/idcg non-decreasing
    in k), and all values in range."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = sorted(
        registry.QUERIES["j155_retrieval_ndcg"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == [1, 3, 5, 10]
    for a, b in zip(rows, rows[1:]):
        assert a.dcg <= b.dcg + 1e-12
        assert a.idcg <= b.idcg + 1e-12
    for r in rows:
        assert 0.0 < r.ndcg <= 1.0 + 1e-12
        assert 0.0 <= r.mrr <= 1.0
        assert 0.0 <= r.p_at_k <= 1.0


# ---------------------------------------------------------------- j158


def test_j158_prf_surfaces_expansion_only_doc(spark, tmp_path):
    """Planted PRF: feedback docs carry the query terms plus
    'shuffle'; a doc containing ONLY 'shuffle' is invisible to the
    base query and must surface in the expanded ranking with
    pos_base NULL, while the feedback docs keep base ranks 1-5."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import BM25_TERMS

    registry.load_all_query_modules()
    t1, t2, t3 = BM25_TERMS
    texts = {}
    for i in range(5):  # feedback docs: all terms + the expansion term
        texts[i] = " ".join([t1, t2, t3] * (5 - i) + ["shuffle"] * 5)
    texts[10] = " ".join(["shuffle"] * 20)  # expansion-only doc
    for i in range(20, 40):  # noise
        texts[i] = " ".join(f"w{i}_{k}" for k in range(30))
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fx = str(tmp_path / "prffix")
    df.write.mode("overwrite").parquet(f"{fx}/documents.parquet")
    out = {
        r.doc_id: r
        for r in registry.QUERIES["j158_prf_expansion"](spark, fx).collect()
    }
    assert 10 in out, "expansion-only doc missing from expanded ranking"
    assert out[10].pos_base is None
    for i in range(5):
        assert out[i].pos_base == i + 1  # feedback docs keep base order
    # expanded ranking is a valid permutation prefix
    poss = sorted(r.pos_exp for r in out.values())
    assert poss == list(range(1, len(out) + 1))


def _assert_j47_matches_oracle(spark, sf_dir):
    from json2hbase_spark import registry
    from json2hbase_spark.plans import corpus_queries
    from tools.oracle_check import compare, duck_connection

    got = corpus_queries.j47_pagerank(spark, sf_dir).toPandas()
    want = duck_connection(sf_dir).execute(registry.ORACLES["j47_pagerank"]).fetchdf()
    assert len(got) > 0
    assert compare("j47_pagerank", got, want) == []


def test_j47_pagerank_matches_duckdb_oracle(spark, sf_dir):
    _assert_j47_matches_oracle(spark, sf_dir)


def _j47_jobs(spark, sf_dir, count_jobs) -> int:
    from json2hbase_spark.io import parquet_schema
    from json2hbase_spark.plans.corpus_queries import j47_pagerank

    parquet_schema(spark, f"{sf_dir}/documents.parquet")
    return count_jobs(lambda: j47_pagerank(spark, sf_dir).collect())


def test_j47_pagerank_job_count(spark, sf_dir, count_jobs):
    """The fixture's edge table fits the broadcast threshold, so j47
    collects it once and ranks on the driver: two jobs each for the
    shingle and edge materializes, one collect of ``bi`` and the local
    relation's collect. A rank-table materialize or a second collect of
    ``bi`` raises the count; a fresh schema inference adds one."""
    assert _j47_jobs(spark, sf_dir, count_jobs) == 6


def test_j47_pagerank_spark_path_job_count(spark, sf_dir, count_jobs, broadcast_off):
    """Above the threshold every iteration materializes its rank table
    and joins ``bi`` sort-merge; one materialize builds both edge
    directions and each aggregate also recounts degrees. A union
    materialize or a second rank-table join per iteration raises it."""
    assert _j47_jobs(spark, sf_dir, count_jobs) == 22


def test_j47_pagerank_sort_merge_side_matches_duckdb_oracle(spark, sf_dir, broadcast_off):
    """With broadcast joins off, materialize hints no table, so j47
    runs the Spark chain and every iteration joins sort-merge (the path
    of a graph too large to broadcast): same rows."""
    _assert_j47_matches_oracle(spark, sf_dir)


@pytest.mark.parametrize("kind", ["local", "checkpoint"])
def test_j47_pagerank_driver_path_under_each_strategy(spark, sf_dir, monkeypatch, request, kind):
    """A local and a reliable checkpoint both hint the fixture's small
    edge table, so j47 ranks on the driver under either, with the
    oracle's rows."""
    from json2hbase_spark.plans import corpus_queries

    ranked = corpus_queries._pagerank_rows
    calls = []
    monkeypatch.setattr(
        corpus_queries, "_pagerank_rows", lambda edges: calls.append(len(edges)) or ranked(edges)
    )
    if kind == "checkpoint":
        request.getfixturevalue("reliable_checkpoint")
    _assert_j47_matches_oracle(spark, sf_dir)
    assert len(calls) == 1 and calls[0] > 0


_ID = 1 << 31  # node ids past int32
_STAR = 220  # hub degree
_PR_GRAPH = (
    [(_ID, _ID + k) for k in range(1, _STAR + 1)]  # star around one hub
    + [(_ID + 1, _ID + 2)] * 2  # duplicated pair between two leaves
    + [(_ID, _ID + 3)]  # duplicated hub edge
    + [(1 << 40, (1 << 40) + 1)] * 2  # a second component
    + [((1 << 40) + 1, (1 << 40) + 2), ((1 << 40) + 2, 1 << 40)]
)


def _pagerank_of(spark, pairs):
    from json2hbase_spark.materialize import broadcast_hinted, materialize
    from json2hbase_spark.plans.corpus_queries import _pagerank

    edges = spark.createDataFrame(pairs, "doc_a BIGINT, doc_b BIGINT")
    bi = materialize(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
            edges.select("doc_b", "doc_a")
        )
    )
    out = _pagerank(bi)
    return broadcast_hinted(bi), out.schema, sorted(out.collect())


def test_pagerank_driver_path_matches_spark_path(spark, request):
    """The driver kernel repeats each Spark cast, so on a graph with a
    hub of degree 220, multi-edges, two components and ids above 2^31
    it gives the Spark chain's rows bit for bit, and its schema."""
    hinted, schema, rows = _pagerank_of(spark, _PR_GRAPH)
    request.getfixturevalue("broadcast_off")
    spark_hinted, spark_schema, spark_rows = _pagerank_of(spark, _PR_GRAPH)
    assert hinted and not spark_hinted
    assert schema == spark_schema
    assert rows == spark_rows
    assert len(rows) == _STAR + 4
    assert max(rows, key=lambda r: r.pr).node == _ID


def _jobs_of(spark, sf_dir, count_jobs, name):
    """Jobs ``name`` launches when built and collected at local[4],
    with every fixture schema already read."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import parquet_schema

    registry.load_all_query_modules()
    for path in glob.glob(f"{sf_dir}/*.parquet"):
        parquet_schema(spark, path)
    return count_jobs(lambda: registry.QUERIES[name](spark, sf_dir).collect())


# Jobs of each label-propagation query, built and collected at local[4]
# with the fixture schemas already read, as measured (j107 reads 20 or
# 21: AQE plans a ninth broadcast stage in its split chain, or not).
# materialize's size hint makes the joins against small materialized
# tables broadcast joins without a job; the exact-count gate it
# replaced ran two jobs per propagation, and the sort-merge joins it
# left in j107 and j117 ran more.
LABEL_CHAIN_JOBS = {
    "j107_cluster_safe_split": 21,
    "j108_winnow_clusters": 51,
    "j117_cross_source_clusters": 29,
}


@pytest.mark.parametrize("name", sorted(LABEL_CHAIN_JOBS))
def test_label_chain_job_count(spark, sf_dir, count_jobs, name):
    jobs = _jobs_of(spark, sf_dir, count_jobs, name)
    assert jobs <= LABEL_CHAIN_JOBS[name], jobs


# Jobs of each query built on the near-duplicate pair kernel
# (dedup.block_shingles / block_pairs, corpus_queries._md5_dup_pairs),
# as measured at sf0.001 and sf0.01 before the copies were merged
# into it. The kernel runs inside materialize, which plan fingerprints
# do not see, so a change to it shows here first. j20 reads 12 or 13:
# its two materializations run 2 jobs each on every run, and the
# variable job is in its returned plan, the 3-hop label chain, where
# AQE submits 9 or 10 shuffle query stages depending on which stage
# finishes first (same join strategies either way; 4 jobs with AQE
# off).
NEAR_DUP_JOBS = {
    "j2v_jaccard_verify": 4,
    "j20_dup_components": {12, 13},
    "j34_dedup_cascade": 12,
    "j48_dedup_near_md5": 6,
    "j49_dedup_recall": 11,
    "j81_band_tuning": 9,
    "j101_source_dup_matrix": 8,
    "j131_corpus_pipeline": 23,
    "j138_lexical_semantic_agreement": 13,
    "j140_dup_quality_interaction": 9,
    "j143_gate_order_audit": 23,
}


@pytest.mark.parametrize("name", sorted(NEAR_DUP_JOBS))
def test_near_dup_job_count(spark, sf_dir, count_jobs, name):
    pin = NEAR_DUP_JOBS[name]
    jobs = _jobs_of(spark, sf_dir, count_jobs, name)
    assert jobs in (pin if isinstance(pin, set) else {pin}), jobs
