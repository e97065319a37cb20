"""Cross-engine bit-exact numeric conventions.

Why this exists: Spark's ``round()`` rounds the exact binary double
(BigDecimal HALF_UP) while DuckDB's ``round()`` rounds the shortest
decimal repr — at sf0.01 ~0.75% of ``round(price*(1-disc), 2)`` cells
differ by 0.01 (measured 2026-08-13). Floating sums additionally depend
on accumulation order, which differs across engines/partitionings.

The fix is to make both engines compute the *same exact value*:

- Row-level money math: leave as plain double expressions — IEEE ops on
  identical inputs are bit-identical in both engines. Never round.
- Aggregates over decimal-exact data (prices have 2 decimals, discounts
  and taxes 2): cast to DECIMAL, aggregate exactly, cast the final
  result to DOUBLE. The decimal→double conversion is correctly rounded
  in both engines → bit-identical outputs in any execution order. This
  is also the right 100 TB posture: decimal sums don't drift with
  partition count, so results are stable across cluster layouts.
- Genuinely approximate stats (stddev/corr/ln/pow/cosine): round(,4) —
  the operands' shortest reprs are full-length, so the repr-vs-binary
  rounding divergence can't trigger.

The SQL fragments below are written once and used verbatim on BOTH
sides (Spark via ``F.expr`` — Spark SQL and DuckDB agree on this
syntax), so the expressions cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# lineitem money expressions (TPC-H Q1 family)
DISC_PRICE_DEC = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
CHARGE_DEC = f"({DISC_PRICE_DEC}) * (1 + CAST(l_tax AS DECIMAL(4,2)))"
SUM_REVENUE = f"CAST(SUM({DISC_PRICE_DEC}) AS DOUBLE)"
SUM_CHARGE = f"CAST(SUM({CHARGE_DEC}) AS DOUBLE)"


def dec_sum(col: str, p: int = 12, s: int = 2) -> str:
    """Exact SUM of a decimal-exact double column, returned as DOUBLE."""
    return f"CAST(SUM(CAST({col} AS DECIMAL({p},{s}))) AS DOUBLE)"


def e(sql: str, alias: str) -> Column:
    """Spark-side column from the shared SQL fragment."""
    return F.expr(sql).alias(alias)


# order-free, engine-exact centroid/mean of float data: quantize each
# element to an integer (floor(x*1e6 + 0.5) — IEEE double multiply +
# exact floor, bit-identical everywhere), sum exactly as BIGINT, divide
# once. The alternative round(avg(x), k) flips between Spark's
# binary-HALF_UP and DuckDB's shortest-repr rounding exactly where
# mean-zero data clusters (observed in j5 at sf0.001), and a
# double->DECIMAL cast ties the same way. Quantization loss is 1e-6 on
# inputs — epsilon against any cluster radius.
QCENT_AVG = (
    "CAST(SUM(CAST(floor(CAST({v} AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
    " / (COUNT(*) * 1000000)"
)
