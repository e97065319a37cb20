"""Property tests for the round-7 selection family (j94-j98) and the
grouped bucketed prefix sum they ride on.

The DuckDB oracles prove cross-engine equality; these pin the
SEMANTIC invariants equality alone can't: per-group greedy-maximal
selection, gate monotonicity, cluster morphology, covariance vs a
numpy recompute, canonicalizer idempotence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load_registry():
    from json2hbase_spark import registry

    registry.load_all_query_modules()


def test_grouped_bucketed_cumsum_matches_plain_window(spark):
    """The grouped two-pass prefix sum must equal the per-group
    single-partition window it replaces, on an adversarial layout:
    skewed groups, duplicate order keys, empty buckets."""
    from json2hbase_spark.operators.prefix import grouped_bucketed_cumsum
    from pyspark.sql import Window

    rows = [
        (g, i, (i * 7 + ord(g)) % 5, (i * 13 + ord(g) * 3) % 4)
        for g in ("a", "b", "c")
        for i in range(40 if g == "a" else 7)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v long, bkt long")
    # bkt must be monotone along the order inside each group: order by
    # (bkt, id) so the requirement holds by construction
    got = {
        (r.grp, r.id): r.cum
        for r in grouped_bucketed_cumsum(
            df, ["grp"], "bkt", [F.asc("bkt"), F.asc("id")], "v", "cum"
        ).collect()
    }
    w = (
        Window.partitionBy("grp")
        .orderBy(F.asc("bkt"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.grp, r.id): r.cum for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_j94_selection_is_greedy_maximal_per_source(spark):
    """Within EVERY source the selected set is the longest
    (quality DESC, doc_id) prefix fitting the per-source budget."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.selection_queries import PER_SOURCE_TOKEN_BUDGET

    rows = registry.QUERIES["j94_source_budget_select"](spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src) > 1
    for src, rs in by_src.items():
        order = sorted(rs, key=lambda r: (-r.quality, r.doc_id))
        sel = [r for r in order if r.selected]
        unsel = [r for r in order if not r.selected]
        assert sum(r.n_tokens for r in sel) <= PER_SOURCE_TOKEN_BUDGET, src
        if unsel:
            assert (
                sum(r.n_tokens for r in sel) + unsel[0].n_tokens
                > PER_SOURCE_TOKEN_BUDGET
            ), src
            assert order[: len(sel)] == sel, src
        acc = 0
        for r in order:
            acc += r.n_tokens
            assert r.cum_tokens == acc, src


def test_j94_every_source_gets_a_selection(spark):
    """Budget fairness: with a non-trivial budget every source keeps
    at least its best doc — the diversity property j91 lacks."""
    from json2hbase_spark import registry

    rows = registry.QUERIES["j94_source_budget_select"](spark, SF).collect()
    sel_sources = {r.source for r in rows if r.selected}
    all_sources = {r.source for r in rows}
    assert sel_sources == all_sources


def test_j95_gate_invariants(spark):
    """Per-source report: flagged ≤ docs, density in [0, 1], and the
    fixture vocabulary guarantees hits (the 'slow' token) while
    'crash' can never match anything."""
    from json2hbase_spark import registry

    rows = registry.QUERIES["j95_blockword_gate"](spark, SF).collect()
    assert rows
    assert sum(r.total_block_hits for r in rows) > 0
    for r in rows:
        assert 0 <= r.n_flagged <= r.n_docs
        assert 0.0 <= r.corpus_block_density <= 1.0


def test_j95_constructed_gate(spark, tmp_path):
    """A doc that is 40% blockwords must be flagged; a clean doc and a
    doc with a blockword as a SUBSTRING of a longer token must not."""
    from json2hbase_spark import registry

    docs = spark.createDataFrame(
        [
            (0, "slow slow dup fast big", "en", "s0", 21),
            (1, "fast big small table scan", "en", "s0", 25),
            (2, "slowest dupster fast big scan", "en", "s1", 29),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "gatefix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.source: r for r in registry.QUERIES["j95_blockword_gate"](spark, d).collect()}
    assert out["s0"].n_flagged == 1 and out["s0"].total_block_hits == 3
    # token-boundary rule: 'slowest'/'dupster' contain blockwords as
    # substrings but match nothing
    assert out["s1"].n_flagged == 0 and out["s1"].total_block_hits == 0


def test_j96_cluster_invariants(spark):
    """Every cluster: ≥2 docs, distinct texts ≤ docs, langs ≤ docs,
    rep_doc is a real doc id; the fixture corpus (no exact dups) must
    still produce shared-head clusters."""
    from json2hbase_spark import registry

    rows = registry.QUERIES["j96_prefix_cluster"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= 2
        assert 1 <= r.n_texts <= r.n_docs
        assert 1 <= r.n_langs <= r.n_docs
        assert r.rep_doc >= 0
    # no exact text dups in this fixture → heads are shared, bodies
    # differ: every cluster's texts are all distinct
    for r in rows:
        assert r.n_texts == r.n_docs


def test_j96_constructed_shared_head(spark, tmp_path):
    """Two docs sharing exactly their first 16 tokens cluster; a doc
    differing in token 16 stays out."""
    from json2hbase_spark import registry

    head = " ".join(f"t{i}" for i in range(16))
    d0 = head + " tailA tailB"
    d1 = head + " tailC tailD"
    d2 = " ".join(f"t{i}" for i in range(15)) + " OTHER tailE tailF"
    docs = spark.createDataFrame(
        [
            (0, d0, "en", "s0", len(d0)),
            (1, d1, "en", "s0", len(d1)),
            (2, d2, "en", "s0", len(d2)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "headfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = registry.QUERIES["j96_prefix_cluster"](spark, d).collect()
    assert len(rows) == 1
    assert rows[0].n_docs == 2 and rows[0].n_texts == 2 and rows[0].rep_doc == 0


def test_j97_covariance_matches_numpy_exactly(spark):
    """The integer-quantized covariance numerators must equal a numpy
    int64 recompute bit-for-bit (that is the point of quantizing), and
    the derived cov must equal the numerator scaled."""
    import math

    import numpy as np

    from json2hbase_spark import registry
    from json2hbase_spark.plans.selection_queries import COV_SCALE

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").orderBy("vec_id").collect()
    q = np.array(
        [[math.floor(float(x) * COV_SCALE) for x in r.embedding] for r in emb],
        dtype=np.int64,
    )
    n, d = q.shape
    sxy = q.T @ q  # d×d int64
    s = q.sum(axis=0)
    rows = registry.QUERIES["j97_embed_covariance"](spark, SF).collect()
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        want = n * int(sxy[r.i, r.j]) - int(s[r.i]) * int(s[r.j])
        assert r.cov_num == want, (r.i, r.j)
        assert r.cov == pytest.approx(
            round(want / (n * n * COV_SCALE * COV_SCALE), 6), abs=1e-12
        )
    # diagonal entries are n·Σq² − (Σq)² ≥ 0 by Cauchy-Schwarz
    for r in rows:
        if r.i == r.j:
            assert r.cov_num >= 0


def test_j98_canonicalization_collapses_variants(spark):
    """Per host: exactly 2 URLs per doc collapse to 1 canonical each
    (ratio 0.5), and no canonical string retains tracking params,
    default port, fragment, or uppercase scheme/host."""
    from json2hbase_spark import registry

    rows = registry.QUERIES["j98_url_canonical_dedup"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_urls == 2 * r.n_docs
        assert r.n_canonical == r.n_docs
        assert r.dedup_ratio == pytest.approx(0.5)
        for c in (r.min_canon, r.max_canon):
            assert c.startswith("https://")
            assert "utm_" not in c and ":443" not in c and "#" not in c
            host = c.split("://", 1)[1].split("/", 1)[0]
            assert host == host.lower()


def test_j99_winnowing_guarantee(spark, tmp_path):
    """Winnowing's theorem: two docs sharing a substring of at least
    W + K - 1 chars MUST share a fingerprint; tiny docs (< K+W-1
    chars) produce no fingerprints at all."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.selection_queries import WINNOW_K, WINNOW_W

    shared = "the quick brown fox jumps over the lazy dog again"  # 49 chars
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    d0 = "prefix one two three " + shared + " suffix alpha beta"
    d1 = "totally different head here " + shared + " other tail text"
    d2 = "no overlap with anything else whatsoever in this doc body"
    d3 = "tiny"
    docs = spark.createDataFrame(
        [
            (0, d0, "en", "s0", len(d0)),
            (1, d1, "en", "s0", len(d1)),
            (2, d2, "en", "s1", len(d2)),
            (3, d3, "en", "s1", len(d3)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "winfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in registry.QUERIES["j99_winnow_fingerprint"](spark, d).collect()}
    assert 3 not in out  # below the K+W-1 floor → no fingerprints
    assert out[0].n_shared_fp >= 1 and out[1].n_shared_fp >= 1
    assert out[2].n_shared_fp == 0
    for r in out.values():
        assert 0 < r.n_fp
        assert 0 <= r.n_shared_fp <= r.n_fp
        assert 0.0 < r.fp_density <= 1.0


def test_j99_density_near_theory(spark):
    """Selection density should sit near the 2/(W+1) theoretical
    expectation for random text (loose band: the fixture text is
    natural-ish, not uniform random)."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.selection_queries import WINNOW_W

    rows = registry.QUERIES["j99_winnow_fingerprint"](spark, SF).collect()
    assert rows
    mean_density = sum(r.fp_density for r in rows) / len(rows)
    theory = 2.0 / (WINNOW_W + 1)
    assert 0.3 * theory < mean_density < 3.0 * theory


def test_j100_normalizer_exact_budget(spark, tmp_path):
    """The injected dirt budget is exact: leading '  ' (2) + the
    5-char mid cluster loses its 2 zero-width chars and collapses
    ' NBSP ' to one space (4 more), + trailing tab collapses into the
    trim (1): clean = text + ' ' + head10 when text itself is clean."""
    from json2hbase_spark import registry

    t0 = "clean body text with no dirt inside it"
    docs = spark.createDataFrame(
        [(0, t0, "en", "s0", len(t0))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "normfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = registry.QUERIES["j100_text_normalize"](spark, d).collect()[0]
    expected_clean = t0 + " " + t0[:10]
    assert r.docs_changed == 1
    assert r.sum_clean_len == len(expected_clean)
    # raw = 2 + len(t0) + 5 + 10 + 1; clean = len(t0) + 1 + 10
    assert r.chars_removed == (2 + len(t0) + 5 + 10 + 1) - (len(t0) + 1 + 10)


def test_j100_idempotent(spark):
    """Running the normalizer over already-clean output changes
    nothing (fixed point) — checked in-expression on the fixture."""
    from pyspark.sql import functions as F

    from json2hbase_spark.io import load
    from json2hbase_spark.plans.selection_queries import NBSP, ZERO_WIDTH

    def clean(col):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.replace(col, F.lit(NBSP), F.lit(" ")),
                    f"[{ZERO_WIDTH}]",
                    "",
                ),
                "[ \t\r\n]+",
                " ",
            )
        )

    docs = load(spark, SF, "documents").select(clean(F.col("text")).alias("c1"))
    twice = docs.select(F.col("c1"), clean(F.col("c1")).alias("c2"))
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


def test_j102_chunk_dedup_planted_block(spark, tmp_path):
    """Two docs sharing one identical aligned 64-token chunk each get
    exactly one duplicated chunk; a fully-unique doc gets zero."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    block = " ".join(f"shared{i}" for i in range(64))
    a = block + " " + " ".join(f"atail{i}" for i in range(10))
    b = block + " " + " ".join(f"btail{i}" for i in range(10))
    c = " ".join(f"unique{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, a, "en", "s0", len(a)), (1, b, "en", "s0", len(b)),
         (2, c, "en", "s1", len(c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "chunkfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in registry.QUERIES["j102_chunk_dedup"](spark, d).collect()}
    assert out[0].n_chunks == 2 and out[0].n_dup_chunks == 1
    assert out[1].n_chunks == 2 and out[1].n_dup_chunks == 1
    assert out[2].n_dup_chunks == 0
    assert out[0].dup_chunk_frac == 0.5


def test_j103_containment_direction(spark, tmp_path):
    """A small doc embedded verbatim in a big doc: the pair is found
    and containment (shared / smaller side) is high, while the big
    doc's own overlap stays lower; n_shared never exceeds either
    side's fingerprint count."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    small = "the quick brown fox jumps over the lazy dog near the riverbank today"
    big = (
        " ".join(f"pre{i}" for i in range(30))
        + " " + small + " "
        + " ".join(f"post{i}" for i in range(30))
    )
    other = "completely disjoint text body with zero common grams whatsoever here"
    docs = spark.createDataFrame(
        [(0, small, "en", "s0", len(small)), (1, big, "en", "s0", len(big)),
         (2, other, "en", "s1", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "pairfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = registry.QUERIES["j103_winnow_pairs"](spark, d).collect()
    pair = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 1) in pair
    r = pair[(0, 1)]
    assert r.containment >= 0.5
    assert r.overlap_b <= r.overlap_a  # big side dilutes
    assert 0 < r.overlap_a <= 1.0 and 0 < r.overlap_b <= 1.0
    assert all(2 not in k for k in pair)


def test_j104_salvage_semantics(spark, tmp_path):
    """A doc with an embedded junk block keeps its clean segments and
    drops the junk one; a fully-clean doc keeps everything
    (kept_frac 1.0) and its cleaned_md5 equals md5(original text)."""
    import hashlib

    from json2hbase_spark import registry
    from json2hbase_spark.plans.selection_queries import SEG_CHARS

    junk = "0123456789!@#$%^&*()0123456789!@#$%^&*()"  # 40 chars of junk
    assert len(junk) == SEG_CHARS
    # doc 0: clean segment(s) + one aligned junk segment + clean tail
    t0 = ("a" * SEG_CHARS) + junk + ("b" * SEG_CHARS)
    t1 = "entirely clean words all the way through here"
    docs = spark.createDataFrame(
        [(0, t0, "en", "s0", len(t0)), (1, t1, "en", "s0", len(t1))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "segfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in registry.QUERIES["j104_segment_filter"](spark, d).collect()}
    assert out[0].n_segments == 3 and out[0].n_kept == 2
    assert out[0].kept_chars == 2 * SEG_CHARS
    assert out[1].kept_frac == 1.0
    assert out[1].cleaned_md5 == hashlib.md5(t1.encode()).hexdigest()


def test_j105_order_is_contiguous_and_band_major(spark):
    """global_rank is a permutation 1..n; all of band 0 precedes all
    of band 1 precedes band 2; band_rank is dense per band and
    consistent with the okey ordering."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j105_curriculum_order"](spark, SF).collect()
    n = len(rows)
    assert sorted(r.global_rank for r in rows) == list(range(1, n + 1))
    by_band: dict[int, list] = {}
    for r in rows:
        by_band.setdefault(r.band, []).append(r)
    hi = 0
    for band in sorted(by_band):
        rs = sorted(by_band[band], key=lambda r: r.band_rank)
        assert [r.band_rank for r in rs] == list(range(1, len(rs) + 1))
        assert [r.okey for r in rs] == sorted(r.okey for r in rs)
        assert min(r.global_rank for r in rs) == hi + 1
        hi = max(r.global_rank for r in rs)
    assert hi == n


def test_d16_weighted_median_matches_pure_python(spark):
    """The exact token-weighted median per source equals a pure-Python
    recompute from the same (quality, n_tokens) rows."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j94_source_budget_select"](spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append((r.quality, r.doc_id, r.n_tokens))
    out = {r.source: r for r in registry.QUERIES["d16_weighted_median"](spark, SF).collect()}
    for src, rs in by_src.items():
        rs.sort(key=lambda t: (t[0], t[1]))
        tot = sum(t[2] for t in rs)
        cum = 0
        want = None
        for q, _, n in rs:
            cum += n
            if 2 * cum >= tot:
                want = q
                break
        assert out[src].tw_median_quality == want, src
        assert out[src].total_tokens == tot, src


def test_j106_beta_separates_growing_from_saturated(spark, tmp_path):
    """Heaps' β must be high (~1) on a corpus whose every doc brings
    fresh vocabulary and near 0 on a corpus that repeats one tiny
    vocabulary — and the fixture (synthetic fixed vocab) must read as
    saturated."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()

    def run(docs_rows, name):
        docs = spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in docs_rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        d = str(tmp_path / name)
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return registry.QUERIES["j106_heaps_law"](spark, d).collect()[0]

    growing = run(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(40)],
        "grow",
    )
    saturated = run(
        [(i, " ".join(f"v{j % 5}" for j in range(20))) for i in range(40)],
        "sat",
    )
    assert growing.heaps_beta > 0.9
    assert saturated.heaps_beta < 0.1
    fixture = registry.QUERIES["j106_heaps_law"](spark, SF).collect()[0]
    assert fixture.heaps_beta < 0.2  # synthetic fixed vocab saturates
    assert fixture.slope_den > 0


def test_j108_clusters_are_true_components(spark):
    """j108's clusters must equal the TRUE connected components of the
    j103 pair graph (Python BFS ground truth — this is the invariant
    the bounded 3-hop propagation would violate on long chains, which
    is why j108 uses the converged pointer-doubling form): cluster id
    = min member, membership = transitive closure, pair/doc tallies
    reconcile exactly."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    pairs = registry.QUERIES["j103_winnow_pairs"](spark, SF).collect()
    clusters = registry.QUERIES["j108_winnow_clusters"](spark, SF).collect()
    # ground truth: BFS transitive closure in Python
    adj: dict[int, set[int]] = {}
    for r in pairs:
        adj.setdefault(r.doc_a, set()).add(r.doc_b)
        adj.setdefault(r.doc_b, set()).add(r.doc_a)
    label: dict[int, int] = {}
    for start in adj:
        if start in label:
            continue
        comp, stack = {start}, [start]
        while stack:
            for nb in adj[stack.pop()]:
                if nb not in comp:
                    comp.add(nb)
                    stack.append(nb)
        m = min(comp)
        for n in comp:
            label[n] = m
    want = {}
    for n, l in label.items():
        want.setdefault(l, set()).add(n)
    by_cluster = {r.cluster: r for r in clusters}
    assert set(by_cluster) == set(want)
    for cl, members in want.items():
        assert by_cluster[cl].n_docs == len(members) >= 2
    # every pair is intra-cluster by construction of true components;
    # tallies reconcile
    assert sum(r.n_pairs for r in clusters) == len(pairs)
    assert sum(r.n_docs for r in clusters) == len(label)
    assert sum(r.sum_shared for r in clusters) == sum(r.n_shared for r in pairs)
    assert max(r.max_containment for r in clusters) == max(
        r.containment for r in pairs
    )


def test_j108_constructed_component(spark, tmp_path):
    """A chain A-B, B-C of winnow pairs (A and C share nothing
    directly) must resolve into ONE cluster of 3 docs with 2 pairs —
    the transitive resolution j103's pair rows can't express."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    seg1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    seg2 = "lima mike november oscar papa quebec romeo sierra tango uniform xray"
    pad_a = " ".join(f"a{i}" for i in range(25))
    pad_c = " ".join(f"c{i}" for i in range(25))
    docs = [
        (0, pad_a + " " + seg1),              # A: seg1 only
        (1, seg1 + " " + seg2),               # B: bridges both
        (2, seg2 + " " + pad_c),              # C: seg2 only
        (3, " ".join(f"z{i}" for i in range(40))),  # unrelated
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "chainfix")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = registry.QUERIES["j108_winnow_clusters"](spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.cluster == 0 and r.n_docs == 3 and r.n_pairs == 2


def test_j108_sort_merge_side_matches_duckdb_oracle(spark, broadcast_off):
    """With broadcast joins off, materialize hints neither the edge
    table nor the label tables, and every propagation round joins
    sort-merge (the path of a graph too large to broadcast): the rows
    still equal the DuckDB oracle's."""
    from json2hbase_spark import registry
    from tools.oracle_check import compare, duck_connection

    got = registry.QUERIES["j108_winnow_clusters"](spark, SF).toPandas()
    want = duck_connection(SF).execute(registry.ORACLES["j108_winnow_clusters"]).fetchdf()
    assert len(got) > 0
    assert compare("j108_winnow_clusters", got, want) == []


def test_j109_checkpoints_reconcile_with_corpus(spark):
    """Checkpoint rows telescope: deltas sum to the final cumulative
    values, the final cum_types equals the corpus's distinct token
    count, the final cum_tokens equals the corpus token count, and
    checkpoints are strictly increasing within 1..HEAPS_CHECKPOINTS."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.selection_queries import HEAPS_CHECKPOINTS

    registry.load_all_query_modules()
    rows = sorted(
        registry.QUERIES["j109_heaps_checkpoints"](spark, SF).collect(),
        key=lambda r: r.checkpoint,
    )
    cps = [r.checkpoint for r in rows]
    assert cps == sorted(set(cps)) and 1 <= cps[0] and cps[-1] == HEAPS_CHECKPOINTS
    assert sum(r.delta_tokens for r in rows) == rows[-1].cum_tokens
    assert sum(r.delta_types for r in rows) == rows[-1].cum_types
    toks = load(spark, SF, "documents").select(
        F.explode(whitespace_tokens(F.col("text"))).alias("t")
    )
    n_tok, n_types = toks.count(), toks.distinct().count()
    assert rows[-1].cum_tokens == n_tok
    assert rows[-1].cum_types == n_types
    # cumulative columns are nondecreasing across checkpoints
    for a, b in zip(rows, rows[1:]):
        assert b.cum_tokens > a.cum_tokens and b.cum_types >= a.cum_types


def test_j119_nfc_composes_known_budget_and_matches_python(spark, tmp_path):
    """Every doc's injected decomposed suffix composes under NFC
    (2 code points removed per doc on an ASCII corpus); a doc whose
    BODY is decomposed loses extra code points; min_clean_md5 equals
    a hashlib/unicodedata ground truth — pinning byte-level agreement
    between the pandas normalizer and an independent implementation."""
    import hashlib
    import unicodedata

    from json2hbase_spark import registry
    from json2hbase_spark.plans.selection_queries import _NFC_DIRT

    registry.load_all_query_modules()
    decomposed_body = "resume\u0301 and nai\u0308ve text here"
    rows = [
        (0, "plain ascii body one", "en", "s0"),
        (1, "plain ascii body two", "en", "s0"),
        (2, decomposed_body, "fr", "s0"),
    ]
    docs = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "nfcfix")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.lang: r for r in registry.QUERIES["j119_nfc_normalize"](spark, d).collect()}
    en, fr = out["en"], out["fr"]
    assert en.n_docs == 2 and en.docs_changed == 2 and en.chars_removed == 4
    assert fr.n_docs == 1 and fr.docs_changed == 1 and fr.chars_removed == 2 + 2
    for lang, r in out.items():
        texts = [t for _, t, l, _ in rows if l == lang]
        want = min(
            hashlib.md5(
                unicodedata.normalize("NFC", t + _NFC_DIRT).encode()
            ).hexdigest()
            for t in texts
        )
        assert r.min_clean_md5 == want
        assert r.sum_clean_len == sum(
            len(unicodedata.normalize("NFC", t + _NFC_DIRT)) for t in texts
        )


def test_j119_fixture_budget_is_exact(spark):
    """On the ASCII fixture corpus the only NFC work is the injected
    dirt: exactly 2 code points per doc, every doc changed."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = registry.QUERIES["j119_nfc_normalize"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.docs_changed == r.n_docs
        assert r.chars_removed == 2 * r.n_docs


def test_j120_kcenter_matches_python_truth(spark):
    """The distributed farthest-point traversal must select exactly
    the points a sequential exact-integer implementation selects
    (same seed, same tie-break), with a nonincreasing coverage
    curve."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.plans.selection_queries import KC_SCALE, KCENTER_K

    registry.load_all_query_modules()
    import math

    pts = {
        r.vec_id: [int(math.floor(float(x) * KC_SCALE)) for x in r.embedding]
        for r in load(spark, SF, "embeddings").collect()
    }
    seed = min(pts)
    chosen = [(0, seed, 0)]
    cent = [pts[seed]]
    for k in range(1, KCENTER_K):
        best = None
        for vid, q in pts.items():
            d = min(sum((a - b) * (a - b) for a, b in zip(q, c)) for c in cent)
            key = (-d, vid)
            if best is None or key < best[0]:
                best = (key, vid, d)
        chosen.append((k, best[1], best[2]))
        cent.append(pts[best[1]])
    rows = sorted(
        registry.QUERIES["j120_kcenter_coreset"](spark, SF).collect(),
        key=lambda r: r.center_order,
    )
    assert [(r.center_order, r.vec_id, r.sq_dist) for r in rows] == chosen
    dists = [r.sq_dist for r in rows[1:]]
    assert dists == sorted(dists, reverse=True)


def test_j121_power_iteration_matches_python_truth(spark):
    """The in-plan power iteration must be bit-identical to a
    sequential exact-integer implementation (same quantization, same
    renormalization, same sign fix), and the result must align with
    numpy's top eigenvector of the same integer covariance."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.plans.selection_queries import (
        COV_SCALE,
        MATPOW_SQUARINGS,
        POWER_ITERS,
        _PI_A,
        _PI_S,
    )

    registry.load_all_query_modules()
    import math

    import numpy as np

    Q = [
        [int(math.floor(float(x) * COV_SCALE)) for x in r.embedding]
        for r in load(spark, SF, "embeddings").collect()
    ]
    n, d = len(Q), len(Q[0])
    cov = [[0] * d for _ in range(d)]
    sx = [sum(q[i] for q in Q) for i in range(d)]
    for i in range(d):
        for j in range(i, d):
            sxy = sum(q[i] * q[j] for q in Q)
            cov[i][j] = cov[j][i] = n * sxy - sx[i] * sx[j]

    def rescale(m):
        dd = max(max(abs(x) for row in m for x in row) // _PI_A, 1)
        return [[int(math.floor(x / dd)) for x in row] for row in m]

    A = rescale(cov)
    for _ in range(MATPOW_SQUARINGS):
        A = rescale(
            [
                [sum(A[i][k] * A[k][j] for k in range(d)) for j in range(d)]
                for i in range(d)
            ]
        )
    v = [_PI_S] * d
    w = None
    for _ in range(POWER_ITERS):
        w = [sum(A[i][j] * v[j] for j in range(d)) for i in range(d)]
        dd = max(max(abs(x) for x in w) // _PI_S, 1)
        v = [int(math.floor(x / dd)) for x in w]
    top = min(range(d), key=lambda i: (-abs(v[i]), i))
    sg = 1 if v[top] >= 0 else -1
    want = {i: v[i] * sg for i in range(d)}
    w_max = max(abs(x) for x in w)
    rows = registry.QUERIES["j121_embed_top_eigvec"](spark, SF).collect()
    assert len(rows) == d
    assert {r.dim: r.v for r in rows} == want
    assert all(r.w_max == w_max for r in rows)
    # direction sanity: cosine vs numpy's exact top eigenvector > 0.99
    evals, evecs = np.linalg.eigh(np.array(cov, dtype=float))
    top_np = evecs[:, -1]
    got = np.array([want[i] for i in range(d)], dtype=float)
    cos = abs(got @ top_np) / (np.linalg.norm(got) * np.linalg.norm(top_np))
    assert cos > 0.99


def test_j122_share_top_is_projection_energy(spark):
    """share_top must equal the fraction of squared norm carried by
    the dominant direction: bounded in (0,1), and within a small
    tolerance of the same quantity computed with numpy's exact top
    eigenvector (the op's vector is cos>0.99-aligned, so the energy
    shares agree to first order)."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.plans.selection_queries import COV_SCALE

    registry.load_all_query_modules()
    import math

    import numpy as np

    rows = load(spark, SF, "embeddings").collect()
    Q = np.array(
        [[math.floor(float(x) * COV_SCALE) for x in r.embedding] for r in rows],
        dtype=float,
    )
    labels = np.array([r.label for r in rows])
    n = len(Q)
    cov = n * (Q.T @ Q) - np.outer(Q.sum(0), Q.sum(0))
    _, evecs = np.linalg.eigh(cov)
    v = evecs[:, -1]
    out = {
        r.label: r
        for r in registry.QUERIES["j122_common_dir_removal"](spark, SF).collect()
    }
    assert sum(r.n_vecs for r in out.values()) == n
    for lab, r in out.items():
        mask = labels == lab
        want = float(((Q[mask] @ v) ** 2).sum() / (Q[mask] ** 2).sum())
        assert 0.0 < r.share_top < 1.0
        assert abs(r.share_top - want) < 0.05, (lab, r.share_top, want)
        assert r.sum_qq == int((Q[mask] ** 2).sum())


def test_j123_coverage_reconciles_with_selection(spark):
    """Every vector lands in exactly one cell; each center covers at
    least itself (distance 0 in its own cell); the global coverage
    radius after K picks is bounded by the K-th selection distance
    (the defining property of farthest-point traversal)."""
    from json2hbase_spark import registry
    from json2hbase_spark.io import load
    from json2hbase_spark.plans.selection_queries import KCENTER_K

    registry.load_all_query_modules()
    n = load(spark, SF, "embeddings").count()
    picks = sorted(
        registry.QUERIES["j120_kcenter_coreset"](spark, SF).collect(),
        key=lambda r: r.center_order,
    )
    cells = {
        r.center_order: r
        for r in registry.QUERIES["j123_coreset_coverage"](spark, SF).collect()
    }
    assert set(cells) == set(range(KCENTER_K))
    assert sum(r.n_assigned for r in cells.values()) == n
    for r in cells.values():
        assert r.n_assigned >= 1
        assert r.max_sq_dist >= r.mean_sq_dist - 1e-9
    radius = max(r.max_sq_dist for r in cells.values())
    assert radius <= picks[-1].sq_dist


def test_j132_containment_on_planted_quote(spark, tmp_path):
    """A new doc quoting a >=23-char corpus run is flagged with
    containment 1.0 (it is PURE quote) and best_match = the quoted
    corpus doc; a novel doc never appears (containment 0 < tau)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from json2hbase_spark import registry

    registry.load_all_query_modules()
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    corpus_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus_b = "completely different corpus material with other phrasing entirely here"
    quote = corpus_a[:40]  # >= W+K-1=23 chars -> guaranteed shared fingerprint
    novel = "zebra xylophone quartz jackdaw vexing wizards plum bright mist"
    rows = [
        (0, corpus_a, "en", "s0"),
        (1, corpus_b, "en", "s0"),
        (250, quote, "en", "s1"),   # pure quote of corpus doc 0
        (251, novel, "en", "s1"),   # novel content
    ]
    d = str(tmp_path / "incwinfix")
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows], schema
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.new_doc: r for r in registry.QUERIES["j132_incremental_winnow"](spark, d).collect()}
    assert 250 in out and out[250].containment == 1.0
    assert out[250].best_match == 0
    assert 251 not in out
