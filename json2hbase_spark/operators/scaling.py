"""Volume-adaptive parameter dials for the blocked dedup family.

The blocked/bucketed dedup operators (j43 SemDeDup k-means cells, j16
LSH-hyperplane buckets, j18 LSH ANN) are linear only while their
blocking granularity tracks corpus size: at FIXED k / plane count the
within-block pair cost is O(n²/blocks) — a ×16 envelope per ×4 volume,
measured and documented in SCALE.md. These dials turn the prose rule
("grow k with n; +2 planes per ×4 volume") into code, so a deployment
that calls the *_plan APIs with defaults gets the linear envelope
automatically:

- ``auto_kmeans_k``: k = ⌈n / target_cell⌉ keeps the expected
  within-cell pair count Σ C(cell,2) ≈ n·target_cell/2 — LINEAR in n
  (uniform-cell assumption; skewed cells are bounded by the same Σ
  via the tripwire test, tests/test_scale_tripwire.py).
- ``auto_lsh_planes``: p = ⌈log₂(n / target_bucket)⌉ halves expected
  bucket occupancy per added plane, which is exactly "+2 planes per ×4
  volume"; expected same-bucket pairs ≈ n·target_bucket/2 — linear.

At 100 TB, n comes from table metadata (a parquet row-count is a
footer read, not a scan), so choosing the dial adds no data pass.
"""

from __future__ import annotations

import math
import random

TARGET_CELL = 50    # target k-means cell size for semantic dedup (j43)
TARGET_BUCKET = 64  # target expected LSH bucket occupancy (j16/j18)
K_MIN = 10          # fixture-scale floor — the oracle-pinned k
PLANES_MIN = 6      # fixture-scale floor — the oracle-pinned plane count


def auto_kmeans_k(n_vecs: int, target_cell: int = TARGET_CELL, k_min: int = K_MIN) -> int:
    """Cluster count for an n-vector corpus: k ∝ n so cells stay at
    ``target_cell`` expected members and the within-cell pair budget
    n²/(2k) ≈ n·target_cell/2 grows linearly with the corpus."""
    return max(k_min, math.ceil(n_vecs / target_cell))


def auto_lsh_planes(
    n_vecs: int, target_bucket: int = TARGET_BUCKET, p_min: int = PLANES_MIN
) -> int:
    """Hyperplane count for an n-vector corpus: each plane halves the
    expected bucket, so ⌈log₂(n/target_bucket)⌉ keeps occupancy at
    ``target_bucket`` — +2 planes per ×4 volume, expected same-bucket
    pairs ≈ n·target_bucket/2 (linear).

    Floor region: below n ≈ target_bucket·2^p_min (≈4096 at the
    defaults) the dial is flat at ``p_min`` — the "+2 per ×4" contract
    only holds above the floor, which is why the tripwire test
    (tests/test_scale_tripwire.py) samples n ≥ 10k. Fixture-scale runs
    sit in the floor on purpose: p_min is the oracle-pinned plane
    count."""
    if n_vecs <= target_bucket:
        return p_min
    return max(p_min, math.ceil(math.log2(n_vecs / target_bucket)))


def expected_pair_budget_kmeans(n_vecs: int, k: int) -> float:
    """Expected candidate pairs under uniform cells: k · C(n/k, 2)."""
    cell = n_vecs / max(k, 1)
    return k * cell * (cell - 1) / 2.0


def expected_pair_budget_lsh(n_vecs: int, planes: int) -> float:
    """Expected same-bucket pairs under uniform buckets: 2^p · C(n/2^p, 2)."""
    occ = n_vecs / float(2**planes)
    return (2**planes) * occ * (occ - 1) / 2.0


def seeded_planes(n_planes: int, dim: int = 64, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (the engine-wide
    reproducibility contract — no RNG at run time, the plane literals
    are plan-time constants). plans/llm_queries.LSH_PLANES, the
    oracle-pinned plane set, is ``seeded_planes(6)``, so the
    auto-dialed path is a strict generalization of it."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 3) for _ in range(dim)] for _ in range(n_planes)
    ]
