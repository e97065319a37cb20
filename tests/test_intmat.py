"""Driver-side exact integer matrix ops (functions/intmat.py): each must
be the SQL op the DuckDB oracles unroll, bit for bit. Spark-free; the
oracle parity of the full chain is tools/oracle_check.py's job."""

from __future__ import annotations

import pytest

from json2hbase_spark.functions import intmat

A3 = [[4000, 1000, -2000], [1000, 3000, 0], [-2000, 0, 5000]]


def test_rescale_floors_negative_entries():
    # divisor 10 // 5 = 2: -7 / 2 = -3.5 floors to -4 (truncation gives -3)
    assert intmat.rescale([[-7, 10]], 5) == [[-4, 5]]


def test_rescale_divides_as_doubles():
    x = 2**53 + 1
    # max|x| // scale = 3. CAST(x AS DOUBLE) rounds x to 2**53 before the
    # division, as Spark and DuckDB do; exact int division does not.
    assert intmat.rescale([[x]], x // 3) == [[3002399751580330]]
    assert x / 3 == 3002399751580331


def test_sign_fix_tie_goes_to_lower_dim():
    # one matvec gives (-1000, 1000): |v| ties, dim 0 decides the sign
    assert intmat.power_on([[-1, 0], [0, 1]], 1000, 1) == ([1000, -1000], 1000)


def test_int64_overflow_raises():
    with pytest.raises(ArithmeticError):
        intmat.matmul([[2**62]], [[2]])
    with pytest.raises(ArithmeticError):
        intmat.matvec([[2**62, 2**62]], [1, 1])  # each product fits, the sum does not
    with pytest.raises(ArithmeticError):
        intmat.matvec([[-(2**62), 2**62]], [1, 2])  # the sum fits, a product does not
    assert intmat.matvec([[2**62, -(2**62)]], [1, 1]) == [0]


def test_chain_on_a_fixed_3x3_matrix():
    a = intmat.rescale(A3, 100)
    assert a == [[80, 20, -40], [20, 60, 0], [-40, 0, 100]]
    a = intmat.rescale(intmat.matmul(a, a), 100)
    assert a == [[72, 24, -63], [24, 34, -7], [-63, -7, 100]]
    v0, w0 = intmat.power_on(a, 1000, 5)
    assert (v0, w0) == ([-884, -284, 1001], 163126)
    # w = (2, 1), vᵀv = 2: the entries lose floor(w_i·v_j / 2) = 1, 1, 0, 0
    assert intmat.deflate([[2, 0], [0, 1]], [1, 1], 1) == [[1, -1], [0, 1]]
    d = intmat.deflate(a, v0, 100)
    assert d == [[9, 4, 9], [7, 29, 14], [12, 18, 16]]
    v1, w1 = intmat.power_on(d, 1000, 5)
    assert (v1, w1) == ([337, 1001, 822], 43082)
    assert intmat.gram_schmidt([v0, v1, [1000, 0, 0]], 1000) == [
        [-884, -284, 1001],
        [434, 1000, 667],
        [1000, -861, 638],
    ]


def test_cross_q_is_the_oracles_sql():
    import duckdb

    us = [[-884, -284, 1001], [337, 1001, 822], [1000, 0, 0]]  # the chain's v0, v1 and e0

    def sql(c: int, k: int) -> int:
        dt, nk, nc = (intmat.dot(x, y) for x, y in ((us[c], us[k]), (us[k], us[k]), (us[c], us[c])))
        return duckdb.sql(
            f"SELECT CAST(floor((CAST(CAST({dt} AS BIGINT) * {dt} AS DOUBLE)"
            f" / CAST(CAST({nk} AS BIGINT) * {nc} AS DOUBLE)) * 1000000.0) AS BIGINT)"
        ).fetchone()[0]

    assert intmat.cross_q(us) == [0, sql(1, 0), max(sql(2, 0), sql(2, 1))]
    with pytest.raises(ArithmeticError):
        intmat.cross_q([[3 * 10**9], [3 * 10**9]])  # dt fits int64, dt·dt does not
