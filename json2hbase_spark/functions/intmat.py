"""Exact integer matrix arithmetic on the driver, for chains whose size
the embedding dimension d fixes rather than the corpus: j121/j127/j145's
squarings, power iterations, deflations, Gram-Schmidt and j145's
cross_q run on at most d² entries after the one corpus pass that builds
the covariance.

Each function is bit for bit the SQL op that the DuckDB oracles unroll
as CTEs (``plans/selection_queries._duck_power_parts`` and
``plans/vector_queries._duck_deflate_parts`` / ``_duck_pca_ortho_oracle``):

- ``floor(CAST(x AS DOUBLE) / d)`` is ``math.floor(float(x) / float(d))``.
  ``x / d`` on two ints rounds the exact quotient once, a different
  result once ``x`` passes 2**53.
- ``max(abs(x)) // scale`` (SQL integer division) is ``//``: the operand
  is never negative, so truncation and flooring agree.
- Python ``int``, never numpy: numpy wraps silently where Spark's ANSI
  mode raises. A product, sum or difference that leaves int64 raises
  ``ArithmeticError`` here.

Matrices are lists of rows indexed by dim; vectors are lists.
"""

from __future__ import annotations

import math
from operator import mul

INT64_MIN = -(1 << 63)
INT64_MAX = (1 << 63) - 1


def _int64(x: int) -> int:
    if not INT64_MIN <= x <= INT64_MAX:
        raise ArithmeticError(f"BIGINT overflow: {x}")
    return x


def _absmax(rows: list[list[int]]) -> int:
    return max(abs(x) for row in rows for x in row)


def _checked_dot(xs: list[int], ys: list[int]) -> int:
    s = 0
    for x, y in zip(xs, ys):
        s = _int64(s + _int64(x * y))
    return s


def _dots(xrows: list[list[int]], yrows: list[list[int]]) -> list[list[int]]:
    """Σ x·y for every pair of a row of ``xrows`` and a row of ``yrows``.
    When n·max|x|·max|y| fits int64, no product and no partial sum in
    any order can leave it, so the plain sum is taken; otherwise every
    product and running sum is checked."""
    fits = len(yrows[0]) * _absmax(xrows) * _absmax(yrows) <= INT64_MAX
    sum_of_products = (lambda xs, ys: sum(map(mul, xs, ys))) if fits else _checked_dot
    return [[sum_of_products(xs, ys) for ys in yrows] for xs in xrows]


def dot(xs: list[int], ys: list[int]) -> int:
    """``SUM(x * y)`` over two equal-length vectors."""
    return _dots([xs], [ys])[0][0]


def matmul(a: list[list[int]], b: list[list[int]]) -> list[list[int]]:
    """``SUM(x.cov * y.cov) ... ON x.j = y.i GROUP BY x.i, y.j``."""
    return _dots(a, list(zip(*b)))


def matvec(a: list[list[int]], v: list[int]) -> list[int]:
    """``SUM(a.cov * v.v) ... ON v.dim = a.j GROUP BY a.i``."""
    return [w for (w,) in _dots(a, [v])]


def rescale(rows: list[list[int]], scale: int) -> list[list[int]]:
    """Every entry x of ``rows`` as ``floor(CAST(x AS DOUBLE) / e)`` with
    ``e = greatest(max|x| // scale, 1)`` taken over all the entries. A
    vector is rescaled as a one-row matrix."""
    e = float(max(_absmax(rows) // scale, 1))
    return [[math.floor(float(x) / e) for x in row] for row in rows]


def power_on(a: list[list[int]], scale: int, iters: int) -> tuple[list[int], int]:
    """``iters`` renormalized matvecs from the all-``scale`` vector, then
    the sign fix: the entry with the largest |v| (ties to the lower dim)
    is made non-negative. Returns the signed vector and the last
    iterate's max|A·v|, the unnormalized eigenvalue proxy."""
    v = [scale] * len(a)
    for _ in range(iters):
        w = matvec(a, v)
        (v,) = rescale([w], scale)
    top = max(range(len(v)), key=lambda i: abs(v[i]))  # first maximum: lowest dim
    sign = 1 if v[top] >= 0 else -1
    return [x * sign for x in v], _absmax([w])


def deflate(a: list[list[int]], v: list[int], scale: int) -> list[list[int]]:
    """Hotelling projection deflation ``rescale(A − floor((A·v)·vᵀ / vᵀv))``:
    the (i, j) entry loses ``floor(CAST(w_i·v_j AS DOUBLE) / vᵀv)``."""
    w = matvec(a, v)
    vv = float(dot(v, v))
    return rescale(
        [
            [_int64(x - math.floor(float(_int64(wi * vj)) / vv)) for x, vj in zip(row, v)]
            for row, wi in zip(a, w)
        ],
        scale,
    )


def gram_schmidt(vs: list[list[int]], scale: int) -> list[list[int]]:
    """Division-free Gram-Schmidt: each vector, against each earlier
    basis vector u in turn, becomes ``rescale(t·(uᵀu) − (tᵀu)·u)``."""
    us = [vs[0]]
    for t in vs[1:]:
        for u in us:
            nn, tu = dot(u, u), dot(t, u)
            (t,) = rescale(
                [[_int64(_int64(x * nn) - _int64(tu * y)) for x, y in zip(t, u)]], scale
            )
        us.append(t)
    return us


def cross_q(us: list[list[int]]) -> list[int]:
    """Per basis vector c, ``max over k < c of floor(CAST(dt·dt AS
    DOUBLE) / CAST(nnₖ·nn_c AS DOUBLE) · 1e6)`` with ``dt = u_cᵀu_k`` and
    ``nn = uᵀu``: the largest cos²·10⁶ against an earlier vector, and 0
    for the first."""
    nn = [dot(u, u) for u in us]

    def cos2_q(c: int, k: int) -> int:
        dt = dot(us[c], us[k])
        return math.floor(float(_int64(dt * dt)) / float(_int64(nn[k] * nn[c])) * 1e6)

    return [0] + [max(cos2_q(c, k) for k in range(c)) for c in range(1, len(us))]
