"""Semantics tests for the round-8 audit family (plans/audit_queries.py):
code detection verdicts on planted structure, contamination span
measurement on a planted overlap, and KL drift direction on
constructed distributions."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

SF = "/root/testdata/sf0.001"
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs_dir(spark, tmp_path, name, rows):
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], DOC_SCHEMA
    )
    d = str(tmp_path / name)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_j110_verdicts_on_planted_structure(spark, tmp_path):
    """doc_id%7==0 docs are code-staged and must read 'code';
    doc_id%7==3 read 'mixed'; the rest 'prose'. Totals reconcile."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = [(i, f"plain words here number {i} " * 3, "s0") for i in range(21)]
    d = _docs_dir(spark, tmp_path, "codefix", rows)
    out = registry.QUERIES["j110_code_detect"](spark, d).collect()
    by = {r.verdict: r for r in out}
    assert set(by) == {"code", "mixed", "prose"}
    assert by["code"].n_docs == 3  # ids 0,7,14
    assert by["mixed"].n_docs == 3  # ids 3,10,17
    assert by["prose"].n_docs == 15
    assert sum(r.n_docs for r in out) == 21
    # planted code shape: 5 lines, 3 statement lines, braces present
    assert by["code"].sum_lines == 3 * 5
    assert by["code"].sum_semi == 3 * 3
    assert by["code"].sum_brace == 3 * 2
    assert by["prose"].sum_semi == 0 and by["prose"].sum_brace == 0
    assert abs(by["code"].code_line_frac - 0.6) < 1e-9


def test_j111_span_measures_planted_overlap(spark, tmp_path):
    """A corpus doc embedding an exact 12-token run from a benchmark
    doc must be flagged with max_span 12; a disjoint doc must not be
    flagged; a doc with two separate 8-token hits reports the longer
    island, not their sum."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import BENCH_CUT

    registry.load_all_query_modules()
    bench_toks = [f"b{i}" for i in range(30)]
    bench = " ".join(bench_toks)
    run12 = " ".join(bench_toks[5:17])  # 12-token contiguous run
    run8a = " ".join(bench_toks[0:8])
    run8b = " ".join(bench_toks[20:28])
    pad = lambda tag, n: " ".join(f"{tag}{k}" for k in range(n))  # noqa: E731
    rows = [
        (0, bench, "bench"),
        (BENCH_CUT + 0, pad("x", 10) + " " + run12 + " " + pad("y", 10), "s0"),
        (BENCH_CUT + 1, pad("z", 40), "s0"),
        (
            BENCH_CUT + 2,
            run8a + " " + pad("q", 12) + " " + run8b,
            "s0",
        ),
    ]
    d = _docs_dir(spark, tmp_path, "contamfix", rows)
    out = {r.lang: r for r in registry.QUERIES["j111_contamination_span"](spark, d).collect()}
    r = out["en"]
    assert r.n_docs == 3
    assert r.n_contam == 2
    assert r.max_span_tokens == 12
    assert abs(r.avg_max_span - (12 + 8) / 2) < 1e-9


def test_j112_kl_direction_and_exactness(spark, tmp_path):
    """A source drawn from the corpus-majority vocabulary reads
    near-zero KL; a source with a disjoint private vocabulary reads
    strongly positive; kl equals kl_num/(n_tokens·SCALE) exactly."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import KL_LOG_SCALE

    registry.load_all_query_modules()
    common = " ".join(f"w{k % 20}" for k in range(40))
    rows = [(i, common, "s_match") for i in range(20)]
    rows += [(100 + i, " ".join(f"rare{i}_{k}" for k in range(40)), "s_drift")
             for i in range(3)]
    d = _docs_dir(spark, tmp_path, "klfix", rows)
    out = {r.source: r for r in registry.QUERIES["j112_source_unigram_kl"](spark, d).collect()}
    assert out["s_drift"].kl > 1.0  # disjoint vocab: ln(N/N_s) ≈ ln(23/3)
    assert abs(out["s_match"].kl) < 0.2  # majority source ≈ corpus
    for r in out.values():
        assert abs(r.kl - r.kl_num / (r.n_tokens * KL_LOG_SCALE)) < 1e-6
        assert r.n_types >= 1 and r.n_tokens >= r.n_types


def test_j113_sweep_is_monotone_and_reconciles(spark):
    """Raising the threshold can only shrink survivors; fractions are
    consistent with the absolute counts; survivor mean quality is
    nondecreasing in the threshold."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import GATE_THRESHOLDS

    registry.load_all_query_modules()
    rows = sorted(
        registry.QUERIES["j113_quality_threshold_sweep"](spark, SF).collect(),
        key=lambda r: r.thr,
    )
    assert [r.thr for r in rows] == [
        t for t in GATE_THRESHOLDS
        if any(abs(r.thr - t) < 1e-9 for r in rows)
    ]
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs and b.n_tokens <= a.n_tokens
        assert b.mean_quality >= a.mean_quality - 1e-9
    for r in rows:
        assert 0 < r.doc_frac <= 1.0 and 0 < r.token_frac <= 1.0
        assert abs(r.doc_frac - r.n_docs / (rows[0].n_docs / rows[0].doc_frac)) < 5e-4


def test_i28_gate_quarantines_planted_leak(spark, tmp_path):
    """A corpus doc embedding a benchmark 8-token run is quarantined
    by the STREAMING gate; a clean doc is not; the tally equals the
    batch truth."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    bench_toks = [f"b{i}" for i in range(20)]
    leak = " ".join(bench_toks[4:14])
    pad = lambda tag, n: " ".join(f"{tag}{k}" for k in range(n))  # noqa: E731
    rows = [
        (0, " ".join(bench_toks), "bench"),
        (10, pad("x", 8) + " " + leak + " " + pad("y", 8), "s0"),
        (11, pad("z", 30), "s0"),
        (12, pad("q", 3), "s0"),  # sub-gram-width doc: counted, never flagged
    ]
    d = _docs_dir(spark, tmp_path, "i28fix", rows)
    out = {r.lang: r for r in registry.QUERIES["i28_stream_contamination_gate"](spark, d).collect()}
    r = out["en"]
    assert r.n_docs == 3 and r.n_quarantined == 1


def test_every_registered_query_has_a_frozen_median():
    """bench_compare prints NOFREEZE at bench time; this is the CI
    twin — a new operator must land WITH its BASELINE.md freeze row,
    or the 2x gate silently doesn't apply to it."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from json2hbase_spark import registry
    from tools.bench_compare import frozen_medians

    registry.load_all_query_modules()
    frozen = frozen_medians()
    missing = sorted(set(registry.QUERIES) - set(frozen))
    assert not missing, f"queries with no frozen median: {missing}"


def test_scratch_dirs_are_private_and_tracked(tmp_path):
    """scratch_dir returns fresh private dirs under one root; staged
    paths recorded in LAST_STAGED are real directories."""
    import os

    from json2hbase_spark.scratch import scratch_dir, scratch_root

    a, b = scratch_dir("t1"), scratch_dir("t1")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    root = scratch_root()
    assert a.startswith(root) and b.startswith(root)


def test_j114_matrix_reconciles_and_flags_disagreement(spark):
    """The 2x2 cells partition the docs exactly; disagreement_rate
    equals (h_only + m_only)/n; the fixture corpus produces at least
    one disagreement somewhere (the gates are genuinely different
    functions)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j114_quality_disagreement"](spark, SF).collect()
    assert rows
    for r in rows:
        assert (
            r.n_both_keep + r.n_both_drop + r.n_heuristic_only + r.n_model_only
            == r.n_docs
        )
        want = round((r.n_heuristic_only + r.n_model_only) / r.n_docs, 4)
        assert abs(r.disagreement_rate - want) < 1e-9
    assert sum(r.n_heuristic_only + r.n_model_only for r in rows) > 0


def test_j115_waste_arithmetic_is_exact(spark, tmp_path):
    """Constructed doc lengths make the waste arithmetic checkable by
    hand: docs of 100/512/513 tokens at SEQ_LEN=512 cost 1+1+2
    boundary sequences and (412+0+511) padding; concat packing needs
    ceil(1125/512)=3 sequences."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = [
        (0, " ".join(f"a{k}" for k in range(100)), "s0"),
        (1, " ".join(f"b{k}" for k in range(512)), "s0"),
        (2, " ".join(f"c{k}" for k in range(513)), "s0"),
    ]
    d = _docs_dir(spark, tmp_path, "packfix", rows)
    out = registry.QUERIES["j115_packing_waste"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 3 and r.total_tokens == 1125
    assert r.concat_sequences == 3
    assert r.boundary_sequences == 4
    assert r.boundary_waste == 4 * 512 - 1125 == 923
    assert abs(r.waste_ratio - round(923 / (4 * 512), 4)) < 1e-9


def test_i29_shares_sum_to_one_and_match_batch(spark):
    """The streaming mixture tallies must reconcile with a direct
    batch computation and the shares must sum to ~1."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.operators.text import whitespace_tokens

    registry.load_all_query_modules()
    got = {r.source: r for r in registry.QUERIES["i29_stream_mixture_monitor"](spark, SF).collect()}
    want = {
        r.source: (r.n_docs, r.n_tokens)
        for r in load(spark, SF, "documents")
        .select("source", F.size(whitespace_tokens(F.col("text"))).alias("t"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("t").alias("n_tokens"))
        .collect()
    }
    assert set(got) == set(want)
    for s, (nd, nt) in want.items():
        assert (got[s].n_docs, got[s].n_tokens) == (nd, nt)
    assert abs(sum(r.token_share for r in got.values()) - 1.0) < 0.01


def test_j116_redaction_removes_exactly_the_planted_run(spark, tmp_path):
    """A doc embedding a 12-token benchmark run loses exactly those 12
    tokens (the covered positions are the union of the overlapping
    gram windows) and the reconstruction equals the hand-built clean
    text; a disjoint doc is untouched."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import BENCH_CUT

    registry.load_all_query_modules()
    bench_toks = [f"b{i}" for i in range(30)]
    run12 = bench_toks[5:17]
    pre = [f"x{k}" for k in range(10)]
    post = [f"y{k}" for k in range(10)]
    rows = [
        (0, " ".join(bench_toks), "bench"),
        (BENCH_CUT, " ".join(pre + run12 + post), "s0"),
        (BENCH_CUT + 1, " ".join(f"z{k}" for k in range(25)), "s0"),
    ]
    d = _docs_dir(spark, tmp_path, "redactfix", rows)
    out = {r.lang: r for r in registry.QUERIES["j116_contamination_redact"](spark, d).collect()}
    r = out["en"]
    assert r.n_docs == 2 and r.n_redacted == 1
    assert r.tokens_before == 32 + 25
    assert r.tokens_removed == 12
    assert r.tokens_after == 20 + 25
    # byte-proof: min md5 over {clean contaminated doc, untouched doc}
    import hashlib

    clean1 = " ".join(pre + post)
    clean2 = " ".join(f"z{k}" for k in range(25))
    want = min(hashlib.md5(c.encode()).hexdigest() for c in (clean1, clean2))
    assert r.min_clean_md5 == want


def test_j118_ffd_matches_python_truth_and_respects_capacity(spark):
    """The distributed FFD packing equals a sequential Python FFD over
    the same (tokens DESC, doc_id) order; no multi-doc bin exceeds
    SEQ_LEN; oversize singletons carry negative slack; tallies
    reconcile with the corpus token count."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.audit_queries import SEQ_LEN
    from pyspark.sql import functions as F

    registry.load_all_query_modules()
    rows = registry.QUERIES["j118_pack_ffd"](spark, SF).collect()
    toks = (
        load(spark, SF, "documents")
        .select("lang", "doc_id", F.size(whitespace_tokens(F.col("text"))).alias("t"))
        .collect()
    )
    bylang: dict[str, list[tuple[int, int]]] = {}
    for r in toks:
        bylang.setdefault(r.lang, []).append((r.t, r.doc_id))
    want: dict[tuple[str, int], list[int]] = {}
    for lang, lst in bylang.items():
        lst.sort(key=lambda x: (-x[0], x[1]))
        loads: list[int] = []
        for t, _ in lst:
            for i in range(len(loads)):
                if loads[i] + t <= SEQ_LEN:
                    loads[i] += t
                    bid = i + 1
                    break
            else:
                loads.append(t)
                bid = len(loads)
            cell = want.setdefault((lang, bid), [0, 0])
            cell[0] += 1
            cell[1] += t
    got = {(r.lang, r.bin_id): [r.n_docs, r.bin_tokens] for r in rows}
    assert got == want
    for r in rows:
        assert r.slack == SEQ_LEN - r.bin_tokens
        if r.n_docs > 1:
            assert r.bin_tokens <= SEQ_LEN  # no-straddle invariant
    total = sum(t for t, _ in (x for lst in bylang.values() for x in lst))
    assert sum(r.bin_tokens for r in rows) == total


def test_i30_stream_sweep_equals_batch_j113(spark):
    """The complete-mode streaming calibration table must equal the
    one-pass batch j113 row-for-row (the stream/batch equivalence
    contract)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    batch = {
        r.thr: r.asDict()
        for r in registry.QUERIES["j113_quality_threshold_sweep"](spark, SF).collect()
    }
    stream = {
        r.thr: r.asDict()
        for r in registry.QUERIES["i30_stream_threshold_sweep"](spark, SF).collect()
    }
    assert stream == batch


def test_i31_stream_packing_equals_batch_j115(spark):
    """The complete-mode streaming padding bill must equal the batch
    j115 table row-for-row."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    batch = {
        r.lang: r.asDict()
        for r in registry.QUERIES["j115_packing_waste"](spark, SF).collect()
    }
    stream = {
        r.lang: r.asDict()
        for r in registry.QUERIES["i31_stream_packing_monitor"](spark, SF).collect()
    }
    assert stream == batch


def test_i32_stream_coverage_equals_batch_j123(spark):
    """The complete-mode streaming coverage tally must equal batch
    j123 row-for-row (fixed exemplars, same assignment tie rule)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    batch = {
        r.center_order: r.asDict()
        for r in registry.QUERIES["j123_coreset_coverage"](spark, SF).collect()
    }
    stream = {
        r.center_order: r.asDict()
        for r in registry.QUERIES["i32_stream_coreset_monitor"](spark, SF).collect()
    }
    assert stream == batch


def test_j125_sharded_ffd_matches_truth_and_prices_shardability(spark, tmp_path):
    """On a corpus spanning several size bands: the sharded packing
    equals a per-(lang, band) python FFD; its total bin count is ≥
    the global j118 packing (sharding can only lose) and ≤ the
    per-shard Σ(ceil(tokens/SEQ_LEN) + 1) bound (each shard wastes at
    most one partial bin beyond its token lower bound)."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import (
        FFD_BAND_CAP,
        FFD_BAND_WIDTH,
        SEQ_LEN,
    )

    registry.load_all_query_modules()
    rows = []
    did = 0
    for lang in ("en", "de"):
        for size in (40, 90, 150, 200, 300, 420, 500, 700):
            for _ in range(3):
                rows.append((did, " ".join(f"w{did}x{k}" for k in range(size)), lang))
                did += 1
    df = spark.createDataFrame(
        [(i, t, l, "s0", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "ffdbands")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    sharded = registry.QUERIES["j125_pack_ffd_sharded"](spark, d).collect()
    global_ = registry.QUERIES["j118_pack_ffd"](spark, d).collect()
    # python truth per (lang, band)
    want: dict[tuple, list[int]] = {}
    toks = [(l, i, len(t.split())) for i, t, l in rows]
    bylb: dict[tuple, list] = {}
    for l, i, t in toks:
        band = min(t // FFD_BAND_WIDTH, FFD_BAND_CAP)
        bylb.setdefault((l, band), []).append((t, i))
    cells: dict[tuple, list[int]] = {}
    for (l, band), lst in bylb.items():
        lst.sort(key=lambda x: (-x[0], x[1]))
        loads: list[int] = []
        for t, _ in lst:
            for k in range(len(loads)):
                if loads[k] + t <= SEQ_LEN:
                    loads[k] += t
                    bid = k + 1
                    break
            else:
                loads.append(t)
                bid = len(loads)
            cell = cells.setdefault((l, band, bid), [0, 0])
            cell[0] += 1
            cell[1] += t
    got = {(r.lang, r.band, r.bin_id): [r.n_docs, r.bin_tokens] for r in sharded}
    assert got == cells
    n_sharded = len(sharded)
    n_global = len(global_)
    assert n_sharded >= n_global
    bound = 0
    for (l, band), lst in bylb.items():
        tot = sum(t for t, _ in lst if t <= SEQ_LEN)
        oversize = sum(1 for t, _ in lst if t > SEQ_LEN)
        bound += -(-tot // SEQ_LEN) + 1 + oversize
    assert n_sharded <= bound


def test_j126_sweep_reconciles_with_j115_and_is_monotone(spark):
    """The seq_len=512 lane must equal j115 exactly (same arithmetic);
    within a lang, boundary_sequences and n_oversize are nonincreasing
    in seq_len while concat_sequences strictly shrinks (or ties) —
    the monotonicity that makes the sweep a calibration curve."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    sweep = registry.QUERIES["j126_seqlen_sweep"](spark, SF).collect()
    j115 = {r.lang: r for r in registry.QUERIES["j115_packing_waste"](spark, SF).collect()}
    at512 = {r.lang: r for r in sweep if r.seq_len == 512}
    assert set(at512) == set(j115)
    for lang, r in at512.items():
        b = j115[lang]
        assert (
            r.total_tokens,
            r.concat_sequences,
            r.boundary_sequences,
            r.boundary_waste,
            r.waste_ratio,
        ) == (
            b.total_tokens,
            b.concat_sequences,
            b.boundary_sequences,
            b.boundary_waste,
            b.waste_ratio,
        )
    bylang: dict[str, list] = {}
    for r in sweep:
        bylang.setdefault(r.lang, []).append(r)
    for lang, rs in bylang.items():
        rs.sort(key=lambda r: r.seq_len)
        for a, b in zip(rs, rs[1:]):
            assert b.boundary_sequences <= a.boundary_sequences
            assert b.concat_sequences <= a.concat_sequences
            assert b.n_oversize <= a.n_oversize


def test_i33_gate_quarantines_planted_neardup(spark, tmp_path):
    """An arriving (odd doc_id) doc that is a near-copy of an
    already-ingested corpus (even doc_id) doc is quarantined by the
    STREAMING MinHash-band gate; a fresh doc is not; the per-source
    tally equals the batch truth."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    fresh = "completely different content with no shared shingles at all " * 4
    rows = [
        (0, base, "s0"),                      # corpus original
        (1, base + " tiny-suffix-change", "s0"),  # arriving near-copy
        (2, fresh, "s0"),                     # corpus, unrelated
        # genuinely novel text (normalization casefolds, so an
        # upper-cased variant of corpus text would be a REAL near-dup)
        (3, "novel arriving words sharing nothing with the ingested set " * 4, "s1"),
        (5, "short", "s1"),                   # sub-shingle-width: counted, never flagged
    ]
    d = _docs_dir(spark, tmp_path, "i33fix", rows)
    out = {
        r.source: r
        for r in registry.QUERIES["i33_stream_neardup_gate"](spark, d).collect()
    }
    assert out["s0"].n_docs == 1 and out["s0"].n_quarantined == 1
    assert out["s1"].n_docs == 2 and out["s1"].n_quarantined == 0


def test_i34_stream_pq_tally_equals_batch_j129(spark):
    """The complete-mode streaming PQ-encode tally must equal batch
    j129 row-for-row (same trained codebooks, same lowest-cluster
    assignment tie rule, same quantized distortion sums)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    batch = {
        (r.sub, r.cluster): r.asDict()
        for r in registry.QUERIES["j129_pq_codebook"](spark, SF).collect()
    }
    stream = {
        (r.sub, r.cluster): r.asDict()
        for r in registry.QUERIES["i34_stream_pq_encode"](spark, SF).collect()
    }
    assert stream == batch


def test_j135_sweep_matches_python_truth_and_is_monotone(spark, tmp_path):
    """Zipf-shaped planted vocabulary: coverage at each K equals the
    python recompute exactly, rises monotonically in K, and hits 1.0
    once K >= |V|."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import VOCAB_SWEEP

    registry.load_all_query_modules()
    # token t{i} appears (40 - i) times, i = 0..39 — a strict freq order
    words = []
    for i in range(40):
        words += [f"t{i:02d}"] * (40 - i)
    # pack into 20 docs of 41 tokens each
    rows = [
        (d, " ".join(words[d * 41 : (d + 1) * 41]), "s0") for d in range(20)
    ]
    d = _docs_dir(spark, tmp_path, "vocabfix", rows)
    out = {
        r.vocab_size: r
        for r in registry.QUERIES["j135_vocab_size_sweep"](spark, d).collect()
    }
    assert set(out) == set(VOCAB_SWEEP)
    total = sum(40 - i for i in range(40))
    prev = -1.0
    for k in VOCAB_SWEEP:
        covered = sum(40 - i for i in range(min(k, 40)))
        r = out[k]
        assert r.n_types_total == 40 and r.n_types_kept == min(k, 40)
        assert r.token_coverage == round(covered / total, 6), (k, r)
        assert r.oov_rate == round((total - covered) / total, 6)
        assert r.token_coverage >= prev
        prev = r.token_coverage


def test_j136_inflation_counts_planted_copies(spark, tmp_path):
    """src0 = 3 exact copies of A(10 tokens) + 1 unique B(20):
    raw 50 → exact 30 → near 30 (inflation_exact 1.6667). src1 = C(24)
    + near-copy C'(25 tokens, same 40-char prefix, J≥0.3) + unique
    D(12): raw 61 → exact 61 → near 36. src2 clean."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    A = " ".join(f"alpha{k}" for k in range(10))
    B = " ".join(f"beta{k}" for k in range(20))
    C = " ".join(f"gammaword{k:02d}" for k in range(24))
    Cp = C + " extrafinaltoken"
    D = " ".join(f"delta{k}" for k in range(12))
    E = " ".join(f"epsilon{k}" for k in range(15))
    rows = [
        (0, A, "src0"), (1, A, "src0"), (2, A, "src0"), (3, B, "src0"),
        (4, C, "src1"), (5, Cp, "src1"), (6, D, "src1"),
        (7, E, "src2"),
    ]
    d = _docs_dir(spark, tmp_path, "inflatefix", rows)
    out = {
        r.source: r
        for r in registry.QUERIES["j136_dedup_token_inflation"](spark, d).collect()
    }
    s0 = out["src0"]
    assert (s0.n_docs, s0.tokens_raw, s0.tokens_exact, s0.tokens_near) == (4, 50, 30, 30)
    assert s0.inflation_exact == round(50 / 30, 4) and s0.inflation_near == round(50 / 30, 4)
    s1 = out["src1"]
    assert (s1.n_docs, s1.tokens_raw, s1.tokens_exact, s1.tokens_near) == (3, 61, 61, 36)
    assert s1.inflation_near == round(61 / 36, 4)
    s2 = out["src2"]
    assert (s2.tokens_raw, s2.tokens_exact, s2.tokens_near) == (15, 15, 15)
    assert s2.inflation_exact == 1.0 and s2.inflation_near == 1.0


def test_j137_overweight_flags_duplicated_source(spark, tmp_path):
    """j136's planted fixture: src0's budget is 60% copies, so its
    raw-count mixture weight must exceed its dedup-corrected weight
    (overweight > 1), clean src2's must not (≤ 1); every value equals
    the python recompute at alpha=0.7."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import MIX_ALPHA

    registry.load_all_query_modules()
    A = " ".join(f"alpha{k}" for k in range(10))
    B = " ".join(f"beta{k}" for k in range(20))
    E = " ".join(f"epsilon{k}" for k in range(15))
    rows = [
        (0, A, "src0"), (1, A, "src0"), (2, A, "src0"), (3, B, "src0"),
        (7, E, "src2"),
    ]
    d = _docs_dir(spark, tmp_path, "mixfix", rows)
    out = {
        r.source: r
        for r in registry.QUERIES["j137_corrected_mixture"](spark, d).collect()
    }
    raw = {"src0": 50, "src2": 15}
    near = {"src0": 30, "src2": 15}
    z_raw = sum(v ** MIX_ALPHA for v in raw.values())
    z_near = sum(v ** MIX_ALPHA for v in near.values())
    for s in ("src0", "src2"):
        r = out[s]
        wr = round(raw[s] ** MIX_ALPHA / z_raw, 6)
        wc = round(near[s] ** MIX_ALPHA / z_near, 6)
        assert (r.tokens_raw, r.tokens_near) == (raw[s], near[s])
        assert r.w_raw == wr and r.w_corrected == wc, (s, r)
        assert r.overweight == round(wr / wc, 4)
    assert out["src0"].overweight > 1.0 and out["src2"].overweight < 1.0


def test_i35_oov_tally_matches_python_truth(spark, tmp_path):
    """j135's Zipf fixture split over two sources: with the top-16
    vocab pinned from the same corpus, the streaming per-source OOV
    tallies must equal the python recompute exactly."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.streaming_queries import OOV_VOCAB_K

    registry.load_all_query_modules()
    words = []
    for i in range(40):
        words += [f"t{i:02d}"] * (40 - i)
    rows = [
        (d, " ".join(words[d * 41 : (d + 1) * 41]), f"s{d % 2}") for d in range(20)
    ]
    d = _docs_dir(spark, tmp_path, "oovfix", rows)
    out = {
        r.source: r
        for r in registry.QUERIES["i35_stream_oov_monitor"](spark, d).collect()
    }
    # python truth: vocab = 16 most frequent types (freq ties none)
    from collections import Counter

    docs_toks = {s: [] for s in ("s0", "s1")}
    for did, text, src in rows:
        docs_toks[src] += text.split()
    vocab = {t for t, _ in Counter(sum(docs_toks.values(), [])).most_common(OOV_VOCAB_K)}
    for s in ("s0", "s1"):
        toks = docs_toks[s]
        oov = sum(1 for t in toks if t not in vocab)
        assert out[s].n_tokens == len(toks)
        assert out[s].n_oov == oov, (s, out[s], oov)
        assert out[s].oov_rate == round(oov / len(toks), 6)


def test_i36_energy_histogram_equals_batch_j133_rollup(spark):
    """The complete-mode streaming energy histogram's deciles and
    counts must equal the python rollup of batch j133's per-vector
    table (same pinned axis, same decile rule)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    per_vec = registry.QUERIES["j133_residual_energy"](spark, SF).collect()
    stream = {
        r.decile: r
        for r in registry.QUERIES["i36_stream_energy_monitor"](spark, SF).collect()
    }
    want: dict[int, int] = {}
    for r in per_vec:
        want[r.decile] = want.get(r.decile, 0) + 1
    assert {d: r.n_vecs for d, r in stream.items()} == want
    # mean_energy per decile consistent with the decile bounds
    for d, r in stream.items():
        assert d / 10 - 1e-6 <= r.mean_energy <= (d + 1) / 10 + 1e-6 or d == 9


def test_j140_dup_mass_lands_in_the_planted_low_band(spark, tmp_path):
    """3 exact copies of a low-quality (digit-heavy, stopword-free)
    doc + 2 copies of a high-quality doc + 1 unique doc: every band's
    counts/rates equal the python recompute of j12's formula, and the
    dup mass sits exactly where planted."""
    import math

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    low = "12345 67890 11111 22222 33333 44444 55555 66666"
    high = ("the cat sat on the mat and the dog ran to the park with a "
            "ball of yarn for the fun of it in a sunny day on the hill")
    uniq = ("a completely different story unfolds in the quiet village "
            "where the baker and the smith argue about the harvest")
    rows = [(0, low, "s0"), (1, low, "s0"), (2, low, "s0"),
            (3, high, "s1"), (4, high, "s1"), (5, uniq, "s1")]
    d = _docs_dir(spark, tmp_path, "dupqfix", rows)
    out = {r.qbin: r for r in
           registry.QUERIES["j140_dup_quality_interaction"](spark, d).collect()}

    stop = {"the", "a", "of", "and", "to", "in", "is", "on", "for", "with"}

    def qual(t):
        toks = [x for x in t.split(" ") if x]
        digit_ratio = sum(c.isdigit() for c in t) / max(len(t), 1)
        stop_ratio = sum(x in stop for x in toks) / max(len(toks), 1)
        return round(math.log(1 + len(toks)) * (1 - digit_ratio) * (0.5 + stop_ratio), 4)

    dup_ids = {0, 1, 2, 3, 4}
    want: dict[int, list] = {}
    for i, t, _ in rows:
        q = qual(t)
        want.setdefault(min(int(math.floor(q)), 6), []).append((i, q))
    assert set(out) == set(want)
    for qb, members in want.items():
        r = out[qb]
        assert r.n_docs == len(members)
        assert r.n_dup_docs == sum(1 for i, _ in members if i in dup_ids)
        assert r.dup_rate == round(r.n_dup_docs / r.n_docs, 4)
        assert abs(r.avg_quality - round(sum(q for _, q in members) / len(members), 4)) < 1e-9
    # the planted separation: low-quality band is all dup, unique doc's band is mixed as planted
    low_bin = min(int(math.floor(qual(low))), 6)
    assert out[low_bin].dup_rate == 1.0


def test_j141_sweep_matches_python_bm25_truth(spark, tmp_path):
    """Planted corpus with controlled tf/length spread: every config's
    overlap@10 and rank displacement vs the default ranking equals a
    full python BM25 recompute (same per-contribution 6dp rounding,
    same tie-breaks)."""
    import math

    from json2hbase_spark import registry
    from json2hbase_spark.plans.corpus_queries import (
        BM25_SWEEP,
        BM25_TERMS,
        BM25_TOPK,
    )

    registry.load_all_query_modules()
    rows = []
    # 12 docs containing query terms with varied tf and length + 3 term-free
    for i in range(12):
        body = ["join"] * (1 + i % 4) + ["filter"] * (i % 3) + ["pad"] * (5 + 7 * i)
        rows.append((i, " ".join(body), "s0"))
    for i in range(12, 15):
        rows.append((i, " ".join(["noise"] * (10 + i)), "s0"))
    d = _docs_dir(spark, tmp_path, "bm25fix", rows)
    out = {r.cfg: r for r in
           registry.QUERIES["j141_bm25_param_sweep"](spark, d).collect()}

    toks = {i: [x for x in t.split(" ") if x] for i, t, _ in rows}
    dl = {i: len(ts) for i, ts in toks.items()}
    N = len(rows)
    avgdl = sum(dl.values()) / N
    tf = {i: {t: ts.count(t) for t in BM25_TERMS if t in ts} for i, ts in toks.items()}
    df = {t: sum(1 for i in tf if t in tf[i]) for t in BM25_TERMS}
    idf = {t: math.log(1 + (N - df[t] + 0.5) / (df[t] + 0.5)) for t in BM25_TERMS if df[t]}

    def topk(k1, b):
        scores = {}
        for i, terms in tf.items():
            if not terms:
                continue
            s = 0.0
            for t, f in terms.items():
                s += round(idf[t] * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dl[i] / avgdl)), 6)
            scores[i] = round(s, 6)
        ordered = sorted(scores, key=lambda i: (-scores[i], i))[:BM25_TOPK]
        return {i: r + 1 for r, i in enumerate(ordered)}

    base = topk(1.2, 0.75)
    for cfg, k1, b in BM25_SWEEP:
        ranks = topk(k1, b)
        shared = [i for i in ranks if i in base]
        r = out[cfg]
        assert r.n_overlap == len(shared), (cfg, r, ranks, base)
        assert r.rank_shift == sum(abs(ranks[i] - base[i]) for i in shared), (cfg, r)
    assert out[0].n_overlap == BM25_TOPK and out[0].rank_shift == 0


# ---------------------------------------------------------------- j156


def test_j156_k_anonymity_planted(spark, tmp_path):
    """Planted quasi-identifier classes: source s0 holds one singleton
    class (k=1) and one size-6 class; s1 holds a single size-5 class
    (exactly at threshold — not risky)."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.audit_queries import KANON_BUCKET

    registry.load_all_query_modules()
    rows = []
    did = 0
    # s0: 6 docs in (en, bucket 0), 1 doc in (fr, bucket 2) -> k=1
    for _ in range(6):
        rows.append((did, "x" * 10, "en", "s0", 10)); did += 1
    rows.append((did, "y" * 10, "fr", "s0", 2 * KANON_BUCKET + 5)); did += 1
    # s1: exactly 5 docs in one class -> k=5, nothing at risk
    for _ in range(5):
        rows.append((did, "z" * 10, "en", "s1", 50)); did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fx = str(tmp_path / "kanonfix")
    df.write.mode("overwrite").parquet(f"{fx}/documents.parquet")
    out = {
        r.source: r
        for r in registry.QUERIES["j156_k_anonymity"](spark, fx).collect()
    }
    assert out["s0"].n_groups == 2
    assert out["s0"].k_anonymity == 1
    assert out["s0"].n_small_groups == 1
    assert out["s0"].n_docs_at_risk == 1
    assert out["s1"].n_groups == 1
    assert out["s1"].k_anonymity == 5
    assert out["s1"].n_small_groups == 0
    assert out["s1"].n_docs_at_risk == 0


def test_i41_stream_equals_batch_k_anonymity(spark):
    """Stream≡batch contract: i41's complete-mode tally re-derives
    exactly j156's per-source report."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    sf = "/root/testdata/sf0.001"
    got = {
        r.source: (r.n_groups, r.k_anonymity, r.n_small_groups, r.n_docs_at_risk)
        for r in registry.QUERIES["i41_stream_k_anonymity"](spark, sf).collect()
    }
    want = {
        r.source: (r.n_groups, r.k_anonymity, r.n_small_groups, r.n_docs_at_risk)
        for r in registry.QUERIES["j156_k_anonymity"](spark, sf).collect()
    }
    assert got == want
