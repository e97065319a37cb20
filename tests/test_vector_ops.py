"""Round-10 vector operators (plans/vector_queries.py): PCA subspace
(j127), whitening apply + dup re-score (j128), product quantization
(j129) and ADC recall (j130). Planted-structure fixtures prove the
SEMANTICS (a common axis is found and removed; perfect clusters give
zero distortion and recall 1.0); the DuckDB oracles prove engine
exactness separately (tools/oracle_check.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

SF = "/root/testdata/sf0.01"

# sf0.001 runs in the default gate; the sf0.01 run is the heavy one
SCALES = pytest.mark.parametrize(
    "sf",
    [
        pytest.param("/root/testdata/sf0.001", id="sf0.001"),
        pytest.param(SF, id="sf0.01", marks=pytest.mark.slow),
    ],
)


def _emb_dir(spark, tmp_path, name, rows):
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    d = str(tmp_path / name)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


@SCALES
def test_j127_first_component_is_j121_and_subspace_is_usable(spark, sf):
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    sub = registry.QUERIES["j127_pca_topr"](spark, sf).collect()
    assert len(sub) == 4 * 64
    by = {}
    for r in sub:
        by.setdefault(r.component, {})[r.dim] = r.v
    # component 0 IS j121's eigvec (same machinery, zero deflations)
    top = {r.dim: r.v for r in registry.QUERIES["j121_embed_top_eigvec"](spark, sf).collect()}
    assert by[0] == top
    # deflation produced genuinely distinct directions: cross-cosines
    # bounded (the fixture's flat spectrum leaves ~0.16 residual —
    # documented in the op; 0.5 would mean deflation is broken)
    for a in range(4):
        na = math.sqrt(sum(v * v for v in by[a].values()))
        assert na > 0
        for b in range(a + 1, 4):
            nb = math.sqrt(sum(v * v for v in by[b].values()))
            dot = sum(by[a][d] * by[b][d] for d in by[a])
            assert abs(dot / (na * nb)) < 0.5, (a, b, dot / (na * nb))


def test_j128_releases_planted_common_axis_pairs(spark, tmp_path):
    """Vectors = ±BIG·e0 + small per-vector orthogonal noise: every
    same-sign pair is near-dup BEFORE whitening (cos ≈ 0.99, pure
    common axis) and near-orthogonal AFTER (the residuals are
    disjoint basis dims) — the exact inflation j128 exists to
    release."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    for i in range(40):
        vec = [0.0] * 64
        vec[0] = 10.0 if i % 2 == 0 else -10.0
        vec[2 + i] += 0.5  # distinct noise dim per vector (40 < 62 dims)
        rows.append((i, [float(x) for x in vec], i % 2))
    d = _emb_dir(spark, tmp_path, "whitenfix", rows)
    out = registry.QUERIES["j128_whiten_rescore"](spark, d).collect()
    assert len(out) > 0
    for r in out:
        assert r.sim_before >= 0.9, r
        assert abs(r.sim_after) < 0.2, r
        assert r.still_dup is False, r


@pytest.mark.slow  # round-14 test split: heavy planted-fixture run; in the full-suite invocation
def test_j129_zero_distortion_on_planted_patterns(spark, tmp_path):
    """8 distinct constant patterns × 10 copies: the Lloyd seeds
    (vec_id 0..7) ARE the patterns, so training converges immediately,
    every (sub, cluster) cell holds exactly the 10 copies and the
    quantization distortion is exactly zero."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    for copy in range(10):
        for p in range(8):
            vec = [float((p + 1) * 0.1)] * 64
            rows.append((copy * 8 + p, vec, p))
    d = _emb_dir(spark, tmp_path, "pqfix", rows)
    out = registry.QUERIES["j129_pq_codebook"](spark, d).collect()
    assert len(out) == 64  # 8 subs × 8 clusters
    for r in out:
        assert r.n_assigned == 10, r
        assert r.sum_qdist == 0 and r.mean_dist == 0.0, r


@pytest.mark.slow  # round-14 test split: heavy planted-fixture run; in the full-suite invocation
def test_j130_perfect_recall_on_planted_patterns(spark, tmp_path):
    """Same planted table: exact copies make both the exact scan and
    the ADC ranking tie at distance 0 on the query's own pattern,
    broken by candidate id identically — recall@3 must be 1.0 for
    every query."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    for copy in range(10):
        for p in range(8):
            vec = [float((p + 1) * 0.1)] * 64
            rows.append((copy * 8 + p, vec, p))
    d = _emb_dir(spark, tmp_path, "pqrecfix", rows)
    out = registry.QUERIES["j130_pq_adc_recall"](spark, d).collect()
    assert len(out) == 10
    for r in out:
        assert r.n_hits == 3 and r.recall == 1.0, r


def test_j133_planted_axis_vectors_read_high_noise_vectors_low(spark, tmp_path):
    """j128's planted-axis corpus: ±BIG·e0 vectors are ~99.7% common
    axis (decile 9); two pure-noise vectors with NO e0 component must
    read ~zero energy (decile 0)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    for i in range(40):
        vec = [0.0] * 64
        vec[0] = 10.0 if i % 2 == 0 else -10.0
        vec[2 + i] += 0.5
        rows.append((i, [float(x) for x in vec], i % 2))
    for k in range(2):  # pure-noise vectors, zero common-axis share
        vec = [0.0] * 64
        vec[1] = 1.0 + 0.1 * k
        rows.append((40 + k, [float(x) for x in vec], 5))
    d = _emb_dir(spark, tmp_path, "energyfix", rows)
    out = {r.vec_id: r for r in registry.QUERIES["j133_residual_energy"](spark, d).collect()}
    assert len(out) == 42
    for i in range(40):
        assert out[i].energy_frac > 0.95 and out[i].decile == 9, out[i]
    for k in (40, 41):
        assert out[k].energy_frac < 0.05 and out[k].decile == 0, out[k]


@pytest.mark.slow  # round-14 test split: heavy planted-fixture run; in the full-suite invocation
def test_j134_perfect_recall_and_cell_pruning_on_planted_blocks(spark, tmp_path):
    """8 ORTHOGONAL one-hot-block patterns × 10 copies (pattern p
    lights dims 8p..8p+7; label = p): the coarse probe must rank the
    query's own cell first (csim 1 vs 0), PQ codes quantize each block
    exactly (seeds = patterns), so ADC recall@3 is 1.0 for every query
    while only nprobe·10 − 1 = 19 of the 79 candidates are scanned —
    recall AND pruning proven in one fixture."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    for copy in range(10):
        for p in range(8):
            vec = [0.0] * 64
            for k in range(8):
                vec[8 * p + k] = 1.0
            rows.append((copy * 8 + p, [float(x) for x in vec], p))
    d = _emb_dir(spark, tmp_path, "ivfpqfix", rows)
    out = registry.QUERIES["j134_ivfpq_recall"](spark, d).collect()
    assert len(out) == 10
    for r in out:
        assert r.n_hits == 3 and r.recall == 1.0, r
        assert r.n_scanned == 19, r


@pytest.mark.slow  # round-14 test split: heavy planted-fixture run; in the full-suite invocation
def test_j139_raw_side_consistent_with_j130(spark):
    """j139's recall_raw column IS j130's pipeline — the two must
    agree per query on the shared fixture."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    j130 = {
        r.qid: r.recall
        for r in registry.QUERIES["j130_pq_adc_recall"](spark, SF).collect()
    }
    j139 = {
        r.qid: r
        for r in registry.QUERIES["j139_whiten_pq_recall"](spark, SF).collect()
    }
    assert set(j130) == set(j139)
    for qid, r in j139.items():
        assert r.recall_raw == j130[qid], (qid, r, j130[qid])
        assert r.delta == round(r.recall_white - r.recall_raw, 4)


@pytest.mark.slow  # round-14 test split: heavy planted-fixture run; in the full-suite invocation
def test_j139_whitened_chain_preserves_planted_patterns(spark, tmp_path):
    """8 one-hot block patterns × 10 copies riding a strong common
    axis (+5 on every dim): the whitened chain must still separate
    the patterns perfectly (recall_white 1.0) — proof the residual
    training/recall is wired into the whitened space, not leaking raw
    vectors — and the raw chain's exact copies also recall 1.0, so
    delta is 0 on this fixture."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    rows = []
    for copy in range(10):
        for p in range(8):
            vec = [5.0] * 64
            for k in range(8):
                vec[8 * p + k] += 1.0
            rows.append((copy * 8 + p, [float(x) for x in vec], p))
    d = _emb_dir(spark, tmp_path, "whitenpq", rows)
    out = registry.QUERIES["j139_whiten_pq_recall"](spark, d).collect()
    assert len(out) == 10
    for r in out:
        assert r.recall_raw == 1.0, r
        assert r.recall_white == 1.0, r
        assert r.delta == 0.0, r


def test_j144_incremental_merge_equals_oneshot_and_handles_empty_delta(
    spark, tmp_path
):
    """Split fixture (ids straddling INC_COV_CUT): every cell's merged
    cov_num matches the one-shot recompute (the op's own proof column
    all-true) and the slice counts land where planted. Empty-delta
    fixture (all ids below the cut): merge degenerates to the base
    terms and still matches one-shot."""
    import random

    from json2hbase_spark import registry
    from json2hbase_spark.plans.vector_queries import INC_COV_CUT

    registry.load_all_query_modules()
    rng = random.Random(7)
    dim = 4

    def rows(ids):
        return [
            (i, [rng.uniform(-1, 1) for _ in range(dim)], 0) for i in ids
        ]

    split = rows(list(range(INC_COV_CUT - 6, INC_COV_CUT + 5)))  # 6 base + 5 delta
    d1 = _emb_dir(spark, tmp_path, "inc_split", split)
    out = registry.QUERIES["j144_incremental_covariance"](spark, d1).collect()
    assert len(out) == dim * (dim + 1) // 2
    assert all(r.matches_oneshot for r in out)
    assert all(r.n_base == 6 and r.n_delta == 5 for r in out)

    base_only = rows(list(range(20)))  # all below the cut
    d2 = _emb_dir(spark, tmp_path, "inc_empty", base_only)
    out2 = registry.QUERIES["j144_incremental_covariance"](spark, d2).collect()
    assert len(out2) == dim * (dim + 1) // 2
    assert all(r.matches_oneshot for r in out2)
    assert all(r.n_base == 20 and r.n_delta == 0 for r in out2)


@SCALES
def test_j145_orthobasis_cross_cosines_are_rounding_only(spark, sf):
    """The GS output's cross_q (max floor(cos²·1e6) vs earlier
    components) must be rounding residue (< 100, i.e. |cos| < 0.01)
    — j127's raw deflated subspace reads up to ~26,000 on the flat
    sf0.01 spectrum, and its largest |cos| is 0.062 at sf0.001, so the
    bound tells the two apart at both scales. Component 0 is j127's
    component 0 unchanged."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    out = registry.QUERIES["j145_pca_orthobasis"](spark, sf).collect()
    assert len(out) == 256
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r)
    assert sorted(by_comp) == [0, 1, 2, 3]
    for c, rows in by_comp.items():
        cq = {r.cross_q for r in rows}
        assert len(cq) == 1  # one quality scalar per component
        q = cq.pop()
        if c == 0:
            assert q == 0
        else:
            assert 0 <= q < 100, (c, q)
    # component 0 passes through GS untouched = j127's component 0
    raw: dict[int, dict[int, int]] = {}
    for r in registry.QUERIES["j127_pca_topr"](spark, sf).collect():
        raw.setdefault(r.component, {})[r.dim] = r.v
    for r in by_comp[0]:
        assert r.u == raw[0][r.dim]
    # exact double-check of every pairwise cosine in python
    import math

    def max_cross_cos(vecs: dict[int, list[int]]) -> float:
        worst = 0.0
        for c in range(1, 4):
            for k in range(c):
                dot = sum(a * b for a, b in zip(vecs[c], vecs[k]))
                norm = math.sqrt(
                    sum(a * a for a in vecs[c]) * sum(b * b for b in vecs[k])
                )
                worst = max(worst, abs(dot / norm))
        return worst

    gs = max_cross_cos(
        {c: [r.u for r in sorted(rows, key=lambda x: x.dim)] for c, rows in by_comp.items()}
    )
    assert gs < 0.01, gs
    # the bound tells GS output from j127's raw components at this scale
    ungs = max_cross_cos({c: [d[i] for i in sorted(d)] for c, d in raw.items()})
    assert ungs > 0.01, ungs


def test_i37_stream_tally_equals_batch_covariance(spark):
    """The streaming complete-mode covariance tally equals j97's batch
    output bit-for-bit (cov_num and the rounded cov) — micro-batch
    boundaries are just another summation order for the additive
    integer terms."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    sf = "/root/testdata/sf0.001"
    stream = {
        (r.i, r.j): (r.cov_num, r.cov)
        for r in registry.QUERIES["i37_stream_cov_monitor"](spark, sf).collect()
    }
    batch = {
        (r.i, r.j): (r.cov_num, r.cov)
        for r in registry.QUERIES["j97_embed_covariance"](spark, sf).collect()
    }
    assert stream == batch and len(stream) == 64 * 65 // 2


def test_j147_subspace_energy_dominates_single_axis(spark):
    """Orthonormal additivity: each vector's rank-4 subspace energy
    must be ≥ its single-top-axis energy (j133's measure — the
    subspace contains that axis; small slack for quantization and the
    GS basis's rounding-level tilt), bounded by ~1, and component 0
    must dominate for the vectors j133 puts in its top decile."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    sf = "/root/testdata/sf0.001"
    sub = {
        r.vec_id: r
        for r in registry.QUERIES["j147_subspace_energy"](spark, sf).collect()
    }
    ax = {
        r.vec_id: r
        for r in registry.QUERIES["j133_residual_energy"](spark, sf).collect()
    }
    assert set(sub) == set(ax) and len(sub) > 0
    for vid, r in sub.items():
        assert -1 <= r.energy4_q <= 1_050_000, (vid, r.energy4_q)
        # subspace ⊇ top axis: allow 2% slack for GS rescale tilt
        assert r.energy4_q >= ax[vid].energy_frac * 1_000_000 - 20_000, (
            vid,
            r.energy4_q,
            ax[vid].energy_frac,
        )
        assert 0 <= r.dom_component <= 3


def test_gs_basis_memo_bit_equals_recompute(spark):
    """The session memo j147 rides (VERDICT r11 #1) must return the
    exact integer basis a fresh recompute produces — the local
    relation round-trips bigints losslessly, and the refresh path
    (j145, the definer) repopulates the same values."""
    from json2hbase_spark import memo
    from json2hbase_spark.plans.vector_queries import _gs_basis

    fresh = [
        sorted((r.dim, r.u) for r in t.collect())
        for t in _gs_basis(spark, SF, refresh=True)
    ]
    hit = [
        sorted((r.dim, r.u) for r in t.collect()) for t in _gs_basis(spark, SF)
    ]
    assert hit == fresh
    _, basis = memo.get(spark, SF, "pca")
    assert [list(enumerate(u)) for u in basis] == fresh


def test_j157_matryoshka_energy_planted(spark, tmp_path):
    """Planted nesting: label 0 vectors live entirely in dims 1-8
    (energy_frac 1.0 and self-contained at every prefix); label 1
    vectors are uniform across 64 dims (energy_frac = p/64, self-
    contained only at p=64)."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    front = [1.0] * 8 + [0.0] * 56
    flat = [1.0] * 64
    rows = [(i, front, 0) for i in range(3)] + [(10 + i, flat, 1) for i in range(4)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    fx = str(tmp_path / "mrlfix")
    df.write.mode("overwrite").parquet(f"{fx}/embeddings.parquet")
    out = {
        (r.label, r.p): r
        for r in registry.QUERIES["j157_matryoshka_energy"](spark, fx).collect()
    }
    for p in (8, 16, 32, 64):
        r0 = out[(0, p)]
        assert r0.n_vecs == 3
        assert r0.energy_frac == 1.0
        assert r0.n_selfcontained == 3
        r1 = out[(1, p)]
        assert r1.n_vecs == 4
        assert abs(r1.energy_frac - p / 64) < 1e-12
        assert r1.n_selfcontained == (4 if p == 64 else 0)


def test_j159_graph_ann_python_truth(spark, tmp_path):
    """Full python replay of the NSW construction + beam walk on a
    small planted fixture: edge lists, entry cells, every hop's beam,
    and the final recall must match the DataFrame plan bit-for-bit
    (the walk is exact integer math end to end)."""
    import random

    from json2hbase_spark import registry
    from json2hbase_spark.plans.vector_queries import (
        COV_SCALE,
        GRAPH_BEAM,
        GRAPH_HOPS,
        GRAPH_K,
        GRAPH_M,
        GRAPH_NQ,
    )

    registry.load_all_query_modules()
    rng = random.Random(159)
    rows = []
    for i in range(40):
        vec = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((i, vec, i % 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    fx = str(tmp_path / "gannfix")
    df.write.mode("overwrite").parquet(f"{fx}/embeddings.parquet")

    # ---- python truth -------------------------------------------
    # quantize exactly as Spark does: float32 storage, double*scale
    import math
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    q = {i: [math.floor(f32(v) * COV_SCALE) for v in vec] for i, vec, _ in rows}
    lab = {i: l for i, _, l in rows}

    def d(a, b):
        return sum((x - y) * (x - y) for x, y in zip(q[a], q[b]))

    ids = sorted(q)
    topm = {}
    for a in ids:
        cand = sorted(
            (b for b in ids if b != a and lab[b] == lab[a]),
            key=lambda b: (d(a, b), b),
        )[:GRAPH_M]
        topm[a] = cand
    edges = {}
    for a, ns in topm.items():
        for b in ns:
            edges.setdefault(a, set()).add(b)
            edges.setdefault(b, set()).add(a)
    # centroids: QCENT_AVG = floor(x*1e6+0.5) bigint sum / (n*1e6)
    cells = sorted(set(lab.values()))
    cq = {}
    for c in cells:
        members = [i for i in ids if lab[i] == c]
        cent = []
        for p in range(64):
            s = sum(math.floor(f32(rows[i][1][p]) * 1_000_000 + 0.5) for i in members)
            cent.append(s / (len(members) * 1_000_000))
        cq[c] = [math.floor(v * COV_SCALE) for v in cent]

    def dq(qid, cqv):
        return sum((x - y) * (x - y) for x, y in zip(q[qid], cqv))

    truth = {}
    for qid in [i for i in ids if i < GRAPH_NQ]:
        cell = min(cells, key=lambda c: (dq(qid, cq[c]), c))
        entry = min(i for i in ids if lab[i] == cell)
        visited = {entry}
        for _ in range(GRAPH_HOPS):
            beam = sorted(visited, key=lambda c_: (d(qid, c_), c_))[:GRAPH_BEAM]
            for node in beam:
                visited |= edges.get(node, set())
        res = sorted(
            (c_ for c_ in visited if c_ != qid), key=lambda c_: (d(qid, c_), c_)
        )[:GRAPH_K]
        exact = sorted((c_ for c_ in ids if c_ != qid), key=lambda c_: (d(qid, c_), c_))[
            :GRAPH_K
        ]
        hits = len(set(res) & set(exact))
        truth[qid] = (len(visited), len(exact), hits, hits / len(exact))

    out = {
        r.qid: (r.n_visited, r.n_exact, r.n_hit, r.recall)
        for r in registry.QUERIES["j159_graph_ann"](spark, fx).collect()
    }
    assert out == truth


def test_j159_perfect_recall_in_complete_cell(spark, tmp_path):
    """A single cell of <= GRAPH_M + 1 nodes yields a complete graph:
    the walk visits everything reachable from the entry and recall@k
    is exactly 1.0 for every query."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    import random

    rng = random.Random(7)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)], 0) for i in range(7)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    fx = str(tmp_path / "gannfull")
    df.write.mode("overwrite").parquet(f"{fx}/embeddings.parquet")
    out = registry.QUERIES["j159_graph_ann"](spark, fx).collect()
    assert len(out) == 7
    for r in out:
        assert r.recall == 1.0
        assert r.n_visited == 7  # complete graph: everything reached


def test_j161_beam_sweep_consistent_with_j159_and_monotone_cost(spark, sf_dir):
    """The sweep's beam=GRAPH_BEAM slice must be EXACTLY j159's result
    (same graph, same walk), and the visited-set size (the cost axis)
    must be non-decreasing in beam per query — a wider beam can only
    expand more."""
    from json2hbase_spark import registry
    from json2hbase_spark.plans.vector_queries import GRAPH_BEAM

    registry.load_all_query_modules()
    sweep = registry.QUERIES["j161_graph_beam_sweep"](spark, sf_dir).collect()
    base = {
        r.qid: (r.n_visited, r.n_hit, r.recall)
        for r in registry.QUERIES["j159_graph_ann"](spark, sf_dir).collect()
    }
    at_base_beam = {
        r.qid: (r.n_visited, r.n_hit, r.recall)
        for r in sweep
        if r.beam == GRAPH_BEAM
    }
    assert at_base_beam == base
    by_qid = {}
    for r in sweep:
        by_qid.setdefault(r.qid, []).append((r.beam, r.n_visited))
    for qid, pts in by_qid.items():
        pts.sort()
        sizes = [n for _, n in pts]
        assert sizes == sorted(sizes), f"visited not monotone in beam for {qid}: {pts}"


def test_power_eigvec_memo_bit_equals_recompute(spark):
    """The memoized 64-row eigvec table and wmax must equal a fresh
    recompute bit-for-bit — bigints round-trip losslessly through the
    local relation — and the refresh path (j121, a definer of the
    "pca" entry) repopulates the same values."""
    from json2hbase_spark import memo
    from json2hbase_spark.plans.selection_queries import _power_eigvec

    v_f, w_f = _power_eigvec(spark, SF, refresh=True)
    fresh = sorted((r.dim, r.v) for r in v_f.collect())
    wm_f = w_f.collect()[0]["w_max"]
    v_m, w_m = _power_eigvec(spark, SF)
    hit = sorted((r.dim, r.v) for r in v_m.collect())
    assert hit == fresh
    assert w_m.collect()[0]["w_max"] == wm_f
    components, _ = memo.get(spark, SF, "pca")
    v, wm = components[0]
    assert (list(enumerate(v)), wm) == (fresh, wm_f)


def test_pq_cents_memo_bit_equals_recompute(spark):
    """Round-13 PQ codebook memo: the memoized centroid table must be
    the byte-identical codebook a fresh Lloyd run converges to
    (doubles round-trip exactly through collect/createDataFrame), and
    the code assignment derived from it must match per (vec, sub)."""
    from json2hbase_spark import memo
    from json2hbase_spark.plans.vector_queries import _pq_train

    _, cents_f, codes_f = _pq_train(spark, SF, refresh=True)
    fresh_c = sorted(
        (r.sub, r.cluster, tuple(r.ce)) for r in cents_f.collect()
    )
    fresh_codes = sorted(
        (r.vec_id, r.sub, r.cluster, r.d) for r in codes_f.collect()
    )
    _, cents_m, codes_m = _pq_train(spark, SF)
    memo_c = sorted((r.sub, r.cluster, tuple(r.ce)) for r in cents_m.collect())
    memo_codes = sorted(
        (r.vec_id, r.sub, r.cluster, r.d) for r in codes_m.collect()
    )
    assert memo_c == fresh_c
    assert memo_codes == fresh_codes
    cached = memo.get(spark, SF, "pq_cents")
    assert sorted((s, c, tuple(ce)) for s, c, ce in cached) == fresh_c


def test_pca_memo_refresh_and_eviction(spark):
    """The eigvec, the PCA components and the GS basis share one
    "pca" memo entry, so j121's eigvec IS j127's component 0. A
    definer's refresh replaces a stale entry, and every memo store
    evicts entries from ended sessions (keys are
    applicationId-scoped, so a dead entry can never hit again)."""
    from json2hbase_spark import memo
    from json2hbase_spark.plans.selection_queries import _pca, _power_eigvec

    v_f, w_f = _power_eigvec(spark, SF, refresh=True)
    fresh = memo.get(spark, SF, "pca")
    memo.put(spark, SF, "pca", ([([], 0)], []))  # stale: j121's refresh must replace it
    v_r, w_r = _power_eigvec(spark, SF, refresh=True)
    assert memo.get(spark, SF, "pca") == fresh
    eig = sorted((r.dim, r.v) for r in v_r.collect())
    assert eig == sorted((r.dim, r.v) for r in v_f.collect())
    v0, w0 = _pca(spark, SF)[0][0]
    assert sorted(enumerate(v0)) == eig
    assert [(w0,)] == [tuple(r) for r in w_r.collect()] == [tuple(r) for r in w_f.collect()]
    stale = ("dead-app-id", "pca")
    memo._store[stale] = ([], [])
    _power_eigvec(spark, SF, refresh=True)
    assert stale not in memo._store, "store must evict ended-session entries"


# Jobs of each returned plan's collect under AQE, as measured: its
# broadcasts of local relations and its stages. j127 and j145 return
# one local relation each. plans_fingerprint.json pins these plans.
PCA_FINAL_JOBS = {"j121_embed_top_eigvec": 2, "j127_pca_topr": 1, "j145_pca_orthobasis": 1}


@pytest.mark.parametrize("name", sorted(PCA_FINAL_JOBS))
def test_pca_chain_runs_in_a_few_jobs(spark, sf_dir, count_jobs, name):
    """The definers refresh the whole PCA chain, and only its covariance
    pass may launch Spark jobs while the query builds: 3 under AQE,
    one per stage (the widen repartition, the term aggregation's
    shuffle, the result), plus a schema read on the fixture's first
    touch. The chain after it runs
    on the driver; the Spark join chain it replaced launched over 100
    jobs for j127."""
    from json2hbase_spark import registry

    registry.load_all_query_modules()
    out = []
    build = count_jobs(lambda: out.append(registry.QUERIES[name](spark, sf_dir)))
    final = count_jobs(lambda: out[0].collect())
    assert build <= 4 and final <= PCA_FINAL_JOBS[name], (build, final)
